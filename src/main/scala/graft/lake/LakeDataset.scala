package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.Bucketing
import graft.model.{Manifest, PartKey, StorageSpec}

/** A partitioned + hash-bucketed mutable table: the Spark re-expression of
  * the reference's `Dataset` (reference: src/dataset.rs:182-409).
  *
  * The table is a map of [[LakePart]] cells keyed by (partition values,
  * bucket nr). The queryable view is the union of every part's
  * bucket-filtered view; Catalyst pushes query predicates through the union
  * into each part's scan (the behavior the reference demonstrates with
  * polars in test.py:14-18 — free in Spark via `PushDownPredicates`).
  *
  * Scale notes (100 TB / 1000 executors):
  *  - partition+bucket routing turns a giant upsert-join into many small
  *    per-cell joins that shuffle only the incoming slice — the incoming
  *    batch is split ONCE (hash on partition cols + bucket expr) and each
  *    cell join is pre-co-located, the same effect as a bucketed join;
  *  - partition pruning happens at the engine level ([[prunedDF]]) before
  *    Catalyst ever sees non-matching parts' plans;
  *  - parts persist as independent directory trees, so save/load of one
  *    partition never touches the others (incremental save via
  *    [[savePart]]).
  */
final class LakeDataset private (
    val spark: SparkSession,
    val partitionCols: List[String],
    val bucketCols: List[String],
    val nBuckets: Int,
    @volatile var storage: Option[StorageSpec],
    /** Columns with per-part key Bloom filters ([[Bloom]]) — opt-in,
      * typically the table's upsert/delete key. Zones give ranges; scattered
      * or hash-distributed keys span every part's whole interval, so the
      * migration probe and located delete need a MEMBERSHIP summary to skip
      * parts. Maintained in the same routing aggregation as counts + zones.
      */
    val bloomCols: List[String] = Nil,
    /** Columns with per-part HLL distinct sketches ([[HllMap]]) — opt-in,
      * like [[bloomCols]]: each tracked column adds one `hll_sketch_agg` to
      * every routing aggregation and ~1.5 KiB per part to the manifest, and
      * buys `approx_count_distinct(col)` answers from the CATALOG alone
      * (the per-part union carries the same registers as a one-shot
      * sketch; see [[HllMap]] for the estimator contract).
      */
    val sketchCols: List[String] = Nil,
    /** Columns with per-part Greenwald–Khanna quantile summaries
      * ([[QuantileMap]]) — opt-in, like [[sketchCols]]: each tracked column
      * adds one `gk_agg` to every routing aggregation and a few KB per part
      * to the manifest, and buys `approx median / p95 / p99` answers from
      * the CATALOG alone within the GK rank-error bound (see
      * [[QuantileMap]] for the merge-order caveat).
      */
    val quantileCols: List[String] = Nil,
    /** Columns with per-part Misra–Gries frequent-items sketches
      * ([[FreqMap]]) — opt-in, like [[quantileCols]]: each tracked column
      * adds one `freq_agg` to every routing aggregation and O(k) values per
      * part to the manifest, and buys `top values / heavy hitters` answers
      * from the CATALOG alone with certified error bounds — EXACT and
      * order-independent while the column's cardinality stays ≤ k (see
      * [[FreqMap]] for the two regimes).
      */
    val freqCols: List[String] = Nil,
    /** When set, maintain CREATED_AT/CHANGED_AT audit stamps (the
      * reference's own TODO, src/main.rs:34): every ingested row is stamped
      * with this clock; upserts preserve the original `created_at` and renew
      * `changed_at` only on touched rows. Injectable for deterministic
      * tests; defaults to `current_timestamp()` via [[LakeDataset.fromDataFrame]].
      */
    val auditClock: Option[() => Column] = None) {

  /** This dataset's position in the global lock order (see
    * [[LakeDataset.nextRank]]).
    */
  private[lake] val lockRank: Long = LakeDataset.nextRank()

  private val parts = new ConcurrentHashMap[PartKey, LakePart]()

  /** Cells whose CURRENT content is exactly one on-disk directory (loaded
    * from storage, written by [[insertWritten]], or just saved). Reads over
    * only such cells can plan ONE multi-path file scan instead of a
    * union-of-part-views — at hundreds of cells the union's driver-side
    * analysis alone dominates small probes. Any in-memory mutation of a
    * cell evicts it here (its directory is stale until the next save).
    */
  private val diskDirs = new ConcurrentHashMap[PartKey, String]()

  /** Known schema of a disk-resident cell, recorded WITHOUT forcing the
    * part's (lazy) plan — [[uniformSchema]] consults this first, so the
    * multi-path read paths stay O(cells-without-known-schema) instead of
    * materializing every deferred part plan just to compare schemas.
    */
  private val diskSchemas =
    new ConcurrentHashMap[PartKey, org.apache.spark.sql.types.StructType]()

  /** Whole-table view over the snapshots the parts slice: [[toDF]] plans it
    * instead of a union of per-part scans, which at thousands of parts would
    * dominate. [[assembleKept]]'s cost argument relies on it.
    *
    * Contract: when set, its rows are exactly the union of every part's
    * [[LakePart.view]] rows. Setters: a load (every cell disk-resident, or
    * none), the all-disk [[diskScan]], a snapshot rebuild and a first insert
    * (every cell filters the one snapshot), a column change of a cell-less
    * table, and a rollback (restores a pair that held). Carried
    * ([[carryClean]]) by an insert, as `cleanScan ∪ batch`, and by a
    * [[deleteWhere]], filtered like the touched parts. [[markDirty]] clears
    * it on every other mutation.
    */
  @volatile private[lake] var cleanScan: Option[DataFrame] = None

  /** Each type-tracked family's column SET ([[StatFamily.trackedFor]]:
    * zones, sums), fixed when the table first gains a schema (first batch,
    * manifest DDL, or a rebuild) — NOT recomputed per batch. Appends'
    * soundness requires the routing aggregation, rebuilds and per-part
    * materializations to track the same set whenever a column is present:
    * with more trackable columns than a family's cap and a batch whose
    * column ORDER differs from the table's, per-schema recomputation would
    * track different sets and a widen could keep a stale bound (or fold a
    * sum into a column the part never baselined) for a column the batch
    * holds values for. Columns a later batch adds by schema evolution stay
    * untracked (absence = unknown = fail open) until the next rebuild
    * refreshes the sets.
    */
  @volatile private[lake] var tracked: Map[StatFamily[_, _], Set[String]] = Map.empty

  private[lake] def trackedSet(f: StatFamily[_, _],
      schema: org.apache.spark.sql.types.StructType): Set[String] =
    tracked.getOrElse(f, {
      val t = f.trackedFor(schema).toSet
      tracked += f -> t
      t
    })

  /** Refresh every tracked set from a full-table schema (rebuild and load
    * paths only: every part's stats come from the same aggregation there,
    * so no stale per-part set can survive the switch).
    */
  private def retrack(schema: org.apache.spark.sql.types.StructType): Unit =
    tracked = StatFamily.all.filterNot(_.optIn).map(f => f -> f.trackedFor(schema).toSet).toMap

  /** Which columns each family tracks in a frame — the layout of every
    * routing aggregation and part recount.
    */
  private[lake] def statLayout(schema: org.apache.spark.sql.types.StructType): StatLayout =
    StatLayout(this, schema)

  /** A new cell sharing this dataset's layout, storage ledger and snapshot
    * policy.
    */
  private def newPart(df: => DataFrame, key: PartKey, rows: Long, stats: PartStats,
      tight: Boolean = true): LakePart =
    new LakePart(df, key, bucketCols, nBuckets, rows, retainDirect, statLayout,
      partSnapshot, stats, tight)

  /** The cell a routing row's leading key columns name. */
  private def cellKeyOf(row: Row): PartKey = {
    val n = cellKeyCols.length
    PartKey(partitionCols.zipWithIndex.map { case (c, i) =>
      c -> Option(row.get(i)).map(_.toString).orNull
    }.sortBy(_._1),
      if (bucketCols.isEmpty) None
      // A NULL in the bucket column hashes to a null bucket id (numeric and
      // temporal types); such rows get a dedicated sentinel cell, mirroring
      // the null-partition-value handling.
      else Some(if (row.isNullAt(n - 1)) LakeDataset.NullBucket else row.getInt(n - 1)))
  }

  def partKeys: List[PartKey] = parts.keySet().asScala.toList.sortBy(_.relPath)
  def part(key: PartKey): Option[LakePart] = Option(parts.get(key))
  def numParts: Int = parts.size()

  // ---------------------------------------------------------------- querying

  /** Mutations since the last dataset-level compaction. A union-of-parts
    * read scans every part's underlying snapshot once per part; after enough
    * mutations it is cheaper to compact into ONE snapshot first.
    */
  private val sinceCompact = new java.util.concurrent.atomic.AtomicLong(0L)

  // ------------------------------------------- snapshot storage ledger
  // Every snapshot this dataset materializes is tracked so that a rebuild
  // (wide merge / compaction) can RELEASE the superseded generation's
  // storage. Without this, every mutation's checkpoint lives until the JVM
  // dies; measured as 4.9s vs 28s for the same save depending on how much
  // dead data the block manager was evicting around.
  // Two-phase for checkpoints: an entry starts PENDING (its mutation may
  // still be waiting on the monitor — a concurrent rebuild must not free
  // it) and is moved to RETAINED once its mutation has applied; only
  // RETAINED entries are releasable. Parquet-spilled snapshots are created
  // under the monitor and go straight to RETAINED.

  private sealed trait SnapRef {
    def matches(keepIds: Set[Int], keepPaths: Seq[String]): Boolean
    def release(): Unit
    /** Thread that created this ref — how a rollback tells the aborted
      * body's generations from a CONCURRENT writer's pre-monitor batch
      * snapshot (a blocked streaming micro-batch registers its pending
      * snapshot before it can acquire the dataset monitor; freeing it
      * with the transaction's would corrupt the batch it is about to
      * apply — TransactionStreamSpec pins this).
      */
    val ownerThread: Long = Thread.currentThread().getId
  }
  private final class RddRef(val rdd: org.apache.spark.rdd.RDD[_]) extends SnapRef {
    def matches(keepIds: Set[Int], keepPaths: Seq[String]): Boolean =
      keepIds.contains(rdd.id)
    def release(): Unit =
      try rdd.unpersist(false) catch { case scala.util.control.NonFatal(_) => () }
  }
  private final class DirRef(dir: String) extends SnapRef {
    def matches(keepIds: Set[Int], keepPaths: Seq[String]): Boolean =
      keepPaths.exists(p => p == dir || p.endsWith(dir))
    def release(): Unit =
      try LakeDataset.deleteRecursively(Paths.get(dir))
      catch { case scala.util.control.NonFatal(_) => () }
  }

  private val pendingSnaps = mutable.ListBuffer[SnapRef]()
  private val retainedSnaps = mutable.ListBuffer[SnapRef]()

  private def idsAndPaths(dfs: Seq[DataFrame]): (Set[Int], Seq[String]) =
    (dfs.flatMap(Bridge.checkpointRdds).map(_.id).toSet,
      dfs.flatMap(Bridge.scanRootPaths))

  /** Eagerly checkpoint and track as pending. In reliable mode this is a
    * parquet spill — same ledger, directory-backed refs.
    */
  private def ckpt(df: DataFrame): DataFrame =
    if (LakeDataset.reliableSnapshots(spark)) spillSnapshot(df)
    else {
      val c = df.localCheckpoint(true)
      val refs = Bridge.checkpointRdds(c).map(new RddRef(_))
      pendingSnaps.synchronized { pendingSnaps ++= refs }
      // The snapshot outlives its source plan; drop the origin constraints
      // localCheckpoint copied over (a streaming-batch origin's watermark
      // attrs would poison later Union constraint rewrites).
      Bridge.severCheckpoint(c)
    }

  /** Spill directory for big snapshots — deliberately NOT under the storage
    * root (toStorage wipes the root). On a cluster set
    * `spark.graft.snapshot.dir` to shared scratch space (each dataset takes
    * a unique subdirectory, so generation names never collide); locally a
    * temp dir.
    */
  private lazy val spillDir: String =
    spark.conf.getOption("spark.graft.snapshot.dir") match {
      case Some(base) =>
        val d = Paths.get(base, s"ds-${java.util.UUID.randomUUID()}")
        Files.createDirectories(d)
        d.toString
      case None => Files.createTempDirectory("graft-snap-").toString
    }
  private val snapshotGen = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Spill a snapshot to parquet and track it as pending. */
  private def spillSnapshot(df: DataFrame): DataFrame = {
    val dir = s"$spillDir/gen-${snapshotGen.incrementAndGet()}"
    df.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    pendingSnaps.synchronized { pendingSnaps += new DirRef(dir) }
    back
  }

  /** Materialize a whole-table or batch snapshot. Small data checkpoints
    * into the block store; big data spills to parquet — the block store
    * collapses under multi-GB snapshots (measured 104s checkpoint vs 5s
    * parquet write for the same 18M-row merge, and the parquet read-back
    * gets column pruning + filter pushdown for free). Tracked as pending
    * until the owning mutation retains it. Reliable mode always spills.
    */
  private def materializeSnapshot(df: DataFrame, estRows: Long): DataFrame =
    if (!LakeDataset.reliableSnapshots(spark) &&
        estRows >= 0 && estRows <= LakeDataset.SpillSnapshotRows) ckpt(df)
    else spillSnapshot(df)

  /** Snapshot function handed to parts for their own compaction
    * ([[LakePart.materialize]]): local checkpoint normally, parquet spill in
    * reliable mode. Part snapshots are live state the moment they exist, so
    * the spill ref registers as RETAINED (releasable once a later rebuild
    * supersedes it) — the RDD path gets the same treatment from the part's
    * `onCheckpoint = retainDirect` callback, which no-ops for spill-backed
    * frames (they carry no checkpoint RDDs).
    */
  private[lake] def partSnapshot(df: DataFrame): DataFrame =
    if (!LakeDataset.reliableSnapshots(spark)) Bridge.severCheckpoint(df.localCheckpoint(true))
    else {
      val dir = s"$spillDir/gen-${snapshotGen.incrementAndGet()}"
      df.write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
      pendingSnaps.synchronized { retainedSnaps += new DirRef(dir) }
      back
    }

  /** Rows currently in the table if every counter is known, else
    * Long.MaxValue (conservative: unknown size spills to parquet).
    */
  private def knownRowsEstimate: Long = rowsEstimate(atMost = false)

  /** `atMost` sums [[LakePart.rowsAtMost]] instead: still known after a delete. */
  private def rowsEstimate(atMost: Boolean): Long = {
    val counters = parts.values().asScala.map(p => (if (atMost) p.rowsAtMost else p.rows).get)
    if (counters.exists(_ < 0L)) Long.MaxValue
    else counters.sum
  }

  /** Maintained row count when every part's counter is known — NO job runs.
    * Feeds `LakeScan.computeStats` so Catalyst sizes lake tables honestly.
    */
  private[graft] def knownRowsOption: Option[Long] =
    knownRowsEstimate match {
      case Long.MaxValue => None
      case n => Some(n)
    }

  /** Move a mutation's own snapshots from pending to the releasable set —
    * called under the dataset monitor once the mutation has applied.
    */
  private def retain(dfs: DataFrame*): Unit = {
    val (ids, paths) = idsAndPaths(dfs)
    pendingSnaps.synchronized {
      val (move, keep) = pendingSnaps.partition(_.matches(ids, paths))
      pendingSnaps.clear(); pendingSnaps ++= keep
      retainedSnaps ++= move
    }
  }

  /** Track an externally created checkpoint as immediately releasable. */
  private def retainDirect(df: DataFrame): Unit =
    pendingSnaps.synchronized {
      retainedSnaps ++= Bridge.checkpointRdds(df).map(new RddRef(_))
    }

  /** Release every retained snapshot except those backing `keep` — the
    * rebuilt cells slice `keep` alone, so prior generations are dead to the
    * engine. Callers holding pre-mutation DataFrames must re-read via toDF
    * (same contract as the reference, whose plan swap drops old frames).
    */
  private def releaseSuperseded(keep: DataFrame): Unit = {
    val (keepIds, keepPaths) = idsAndPaths(Seq(keep))
    val dead = pendingSnaps.synchronized {
      val (k, d) = retainedSnaps.partition(_.matches(keepIds, keepPaths))
      retainedSnaps.clear(); retainedSnaps ++= k
      d.toList
    }
    // Inside a transaction the pre-transaction generations must survive
    // until commit — a rollback swaps plans referencing them back in.
    if (txDeferredDead != null) txDeferredDead = dead ::: txDeferredDead
    else dead.foreach(_.release())
  }

  // ------------------------------------------------------------------
  // Transaction seam — multi-table atomicity (Database.transaction).
  // A transaction snapshots the dataset's in-memory state (forked parts +
  // catalog maps + the snapshot-storage ledger), lets mutations run in
  // place, and either commits (release the deferred dead generations) or
  // rolls back (swap the forks in, free only the generations the aborted
  // transaction created). Persistence (toStorage/savePart) is refused
  // inside a transaction: the manifest commit protocol is a separate
  // durability boundary with its own optimistic-concurrency story, and a
  // half-persisted transaction could not be rolled back from memory.
  // ------------------------------------------------------------------

  /** Captured pre-transaction state — everything a rollback restores. */
  private[lake] final class TxState(
      private[LakeDataset] val parts0: Map[PartKey, LakePart],
      private[LakeDataset] val dirs0: Map[PartKey, String],
      private[LakeDataset] val schemas0: Map[PartKey, org.apache.spark.sql.types.StructType],
      private[LakeDataset] val scan0: Option[DataFrame],
      private[LakeDataset] val since0: Long,
      private[LakeDataset] val checks0: Map[String, String],
      private[LakeDataset] val tracked0: Map[StatFamily[_, _], Set[String]],
      private[LakeDataset] val pending0: List[SnapRef],
      private[LakeDataset] val retained0: List[SnapRef],
      private[LakeDataset] val txThread: Long)

  /** Dead-generation releases deferred while a transaction is open
    * (non-null = in transaction): a rebuild inside the transaction may NOT
    * free the pre-transaction checkpoints a rollback would resurrect.
    */
  @volatile private var txDeferredDead: List[SnapRef] = null

  private[lake] def inTransaction: Boolean = txDeferredDead != null

  private[lake] def requireNotInTransaction(op: String): Unit =
    if (inTransaction) throw new IllegalStateException(
      s"$op is not allowed inside a transaction: persistence commits are a " +
        "separate durability boundary (commit the transaction first)")

  /** Begin: capture restorable state and start deferring releases.
    * Callers (Database.transaction) hold this dataset's monitor for the
    * whole transaction, so the deferred list is single-threaded.
    */
  private[lake] def txBegin(): TxState = this.synchronized {
    require(txDeferredDead == null,
      "nested transactions on one dataset are not supported")
    txDeferredDead = Nil
    val (p, r) = pendingSnaps.synchronized {
      (pendingSnaps.toList, retainedSnaps.toList)
    }
    new TxState(
      parts.asScala.toMap.map { case (k, part) => k -> part.fork() },
      diskDirs.asScala.toMap, diskSchemas.asScala.toMap,
      cleanScan, sinceCompact.get, checksMap,
      tracked, p, r,
      Thread.currentThread().getId)
  }

  /** Commit: the superseded generations deferred during the transaction
    * are now genuinely dead — free them.
    */
  private[lake] def txCommit(): Unit = this.synchronized {
    val dead = txDeferredDead
    txDeferredDead = null
    if (dead != null) dead.foreach(_.release())
  }

  /** Roll back: swap the forked pre-transaction state in, then free only
    * the snapshot generations the aborted transaction itself created
    * (identified by reference against the captured ledger — the restored
    * plans reference none of them).
    */
  private[lake] def txRollback(st: TxState): Unit = this.synchronized {
    val preRefs = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SnapRef, java.lang.Boolean]())
    (st.pending0 ++ st.retained0).foreach(preRefs.add)
    // Created-in-tx generations live in the snapshot ledger OR — when a
    // later in-tx mutation already superseded them — in the deferred-dead
    // list. Both sets release; the deferred list's PRE-transaction refs do
    // NOT (the restored plans reference them — that is the whole seam).
    // A new ref owned by ANOTHER thread is a concurrent writer's batch
    // snapshot, registered before it blocked on the monitor this rollback
    // holds: it must neither release (the writer's about-to-apply plan
    // references it) nor drop from the ledger (it would leak forever) —
    // it stays pending and retires through the writer's own retain/
    // supersede lifecycle after the rollback returns.
    val mine = (r: SnapRef) =>
      !preRefs.contains(r) && r.ownerThread == st.txThread
    val deferredInTx =
      Option(txDeferredDead).getOrElse(Nil).filter(mine)
    val createdInTx = pendingSnaps.synchronized {
      val created = (pendingSnaps ++ retainedSnaps).filter(mine).toList
      val foreignPending = pendingSnaps
        .filterNot(preRefs.contains).filterNot(mine).toList
      pendingSnaps.clear(); pendingSnaps ++= st.pending0 ++= foreignPending
      retainedSnaps.clear(); retainedSnaps ++= st.retained0
      created
    }
    parts.clear(); st.parts0.foreach { case (k, p) => parts.put(k, p) }
    diskDirs.clear(); st.dirs0.foreach { case (k, d) => diskDirs.put(k, d) }
    diskSchemas.clear(); st.schemas0.foreach { case (k, s) => diskSchemas.put(k, s) }
    cleanScan = st.scan0
    sinceCompact.set(st.since0)
    checksMap = st.checks0
    tracked = st.tracked0
    txDeferredDead = null
    (createdInTx ++ deferredInTx).foreach(_.release())
  }

  /** Union-of-parts view (reference `Dataset::to_lazyframe`,
    * src/dataset.rs:240-243). Lazy when clean; after enough mutations the
    * read triggers [[compact]] so queries see one materialized relation
    * instead of N-scans-of-N-snapshots.
    */
  def toDF: DataFrame = cleanScan.getOrElse {
    // Under the dataset monitor: a union built mid-mutation would see some
    // cells updated and others not (compact()'s parts.clear() in particular).
    this.synchronized {
      cleanScan.getOrElse {
        diskScan().getOrElse {
          if (sinceCompact.get >= LakeDataset.CompactReadThreshold) {
            compact()
            cleanScan.get
          } else unionParts
        }
      }
    }
  }

  /** When EVERY cell is disk-resident, the whole table is one multi-path
    * file scan — no union, no compaction (appending fresh directories never
    * grows a plan the way chained in-memory mutations do). Cached as the
    * clean scan until the next mutation. Callers hold the dataset monitor.
    */
  private def diskScan(): Option[DataFrame] =
    if (storage.isDefined && !parts.isEmpty &&
        parts.keySet().asScala.forall(diskDirs.containsKey) &&
        uniformSchema(parts.asScala.toList)) {
      val scan = multiPathScan(partKeys.map(diskDirs.get))
      cleanScan = Some(scan)
      sinceCompact.set(0L)
      Some(scan)
    } else None

  /** All parts plan the same schema (a schema-evolved subset would read
    * wrong through one shared file scan — fall back to unionByName).
    */
  private def uniformSchema(ps: List[(PartKey, LakePart)]): Boolean =
    ps.map { case (k, p) =>
      Option(diskSchemas.get(k)).getOrElse(p.df.schema)
    }.distinct.sizeIs <= 1

  /** ONE multi-path file scan over disk-resident cell directories: Hive
    * partition discovery (`basePath`) restores the partition and bucket
    * directory values, the table schema restores column order and types
    * (and drops the internal bucket directory column). The same relation
    * shape [[LakeDataset.fromStorage]] plans for a whole loaded table,
    * here over any subset of cells.
    */
  private def multiPathScan(dirs: Seq[String]): DataFrame = {
    val spec = storage.getOrElse(throw new IllegalStateException("no storage spec"))
    val target = tableSchema
    val reader0 = spark.read.format(spec.format).option("basePath", spec.root)
    // The explicit file schema (parquet included): a cell whose rows were
    // ALL erased persists as a fileless directory, and schema inference
    // over an all-fileless path set throws UNABLE_TO_INFER_SCHEMA — with
    // the schema given, such dirs read as the empty relation they are.
    // (Parquet with a user schema also null-fills columns added after a
    // file was written — the same evolution semantics the cast below
    // already assumes.)
    val reader = reader0.schema(org.apache.spark.sql.types.StructType(
      target.fields.filterNot(f => partitionCols.contains(f.name))))
    val loaded = reader.load(dirs: _*)
    // An all-fileless path set also discovers no path partitions — restore
    // any missing partition column as a typed null (the scan is empty, so
    // the nulls never reach a row).
    val withParts = partitionCols.foldLeft(loaded)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
    withParts
      .select(target.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  private def unionParts: DataFrame = {
    require(!parts.isEmpty, "dataset has no parts")
    unionViews(parts.values().asScala.toList.map(_.view))
  }

  /** The union of some parts' views. No views is a legitimate result (a
    * prune that keeps no cell), not an error: an empty frame with the table
    * schema.
    */
  private def unionViews(views: List[DataFrame]): DataFrame =
    if (views.isEmpty) emptyLike
    else views.reduce(_ unionByName (_, allowMissingColumns = true))

  /** Dataset-level compaction: execute the current union-of-parts ONCE into
    * a single materialized snapshot, then rebuild every part as a cell
    * filter over it. Reads afterwards plan one scan; part views stay
    * available for pruning and incremental save. This is the scale-critical
    * complement to per-part compaction: per-cell plans each re-scan their
    * source snapshot, so N parts × M mutations would otherwise cost N×M
    * scans per query.
    */
  def compact(): Unit = this.synchronized {
    if (parts.isEmpty) return // nothing to collapse — a legal no-op
    val snap = materializeSnapshot(cleanScan.getOrElse(unionParts), knownRowsEstimate)
    rebuildFromSnapshot(snap)
    retain(snap)
  }

  /** Point the dataset at one materialized snapshot: recompute cell keys and
    * counters in a single aggregation, rebuild parts as slices of the
    * snapshot, set the clean-scan fast path.
    */
  private def rebuildFromSnapshot(snap: DataFrame): Unit = {
    // Every family recomputes TIGHT here (mutations in between only widen
    // or invalidate); the tracked sets refresh too — safe on this path
    // because every part's stats come from this same aggregation.
    retrack(snap.schema)
    val layout = statLayout(snap.schema)
    val aggs = layout.aggs
    val cells: Array[Row] =
      if (partitionCols.isEmpty && bucketCols.isEmpty) Array.empty
      else {
        val keyCols = partitionCols.map(col) ++
          (if (bucketCols.nonEmpty)
            List(Bucketing.bucketExprFor(snap, bucketCols.head, nBuckets).as(LakeDataset.BucketCol))
          else Nil)
        snap.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*).collect()
      }
    parts.clear()
    diskDirs.clear()
    diskSchemas.clear()
    if (cells.isEmpty) {
      val key = PartKey(Nil, None)
      val (n, stats) = layout.of(snap)
      parts.put(key, newPart(snap, key, n, stats))
    } else {
      cells.foreach { row =>
        val key = cellKeyOf(row)
        val (n, stats) = layout.decode(row, cellKeyCols.length)
        val cond = partitionCols.zipWithIndex.map { case (c, i) =>
          if (row.isNullAt(i)) snap(c).isNull else snap(c) === lit(row.get(i))
        } ++ key.bucketNr.map { b =>
          val e = Bucketing.bucketExprFor(snap, bucketCols.head, nBuckets)
          if (b == LakeDataset.NullBucket) e.isNull else e === lit(b)
        }
        parts.put(key, newPart(snap.filter(cond.reduce(_ && _)), key, n, stats))
      }
    }
    cleanScan = Some(snap)
    sinceCompact.set(0L)
    // Prior generations are dead to the engine: every cell now slices `snap`.
    releaseSuperseded(snap)
  }

  private def markDirty(): Unit = {
    cleanScan = None
    sinceCompact.incrementAndGet()
  }

  /** After [[markDirty]]: `next` maps the view from before the mutation to
    * the parts' rows now. Only while the plan is shallow: from
    * [[LakeDataset.CompactReadThreshold]] mutations on, [[toDF]] compacts
    * instead.
    */
  private def carryClean(prev: Option[DataFrame])(next: DataFrame => DataFrame): Unit =
    if (sinceCompact.get < LakeDataset.CompactReadThreshold) cleanScan = prev.map(next)

  /** Engine-level partition pruning: only parts whose partition values match
    * every supplied (col -> value) filter contribute to the plan. The
    * reference leaves this commented out (src/dataset.rs:66-71); at scale it
    * is essential — Catalyst cannot prune what is already unioned in.
    */
  def prunedDF(partFilters: Map[String, String]): DataFrame =
    unionViews(parts.asScala.collect {
      case (key, part) if partFilters.forall { case (c, v) =>
        key.partValues.exists { case (kc, kv) => kc == c && kv == v }
      } => part.view
    }.toList)

  /** Bucket pruning: for an equality predicate on the (single) bucket column,
    * only the one matching bucket cell per partition needs scanning. The
    * bucket id of the probe value evaluates DRIVER-SIDE (same Catalyst
    * expressions, eval'd locally) — no Spark job before the pruned scan.
    */
  def bucketPrunedDF(bucketValue: Any): DataFrame = {
    val sample = parts.values().asScala.headOption.map(_.df)
    require(sample.nonEmpty, "dataset has no parts")
    val dt = sample.get.schema(bucketCols.head).dataType
    val targetBucket = Bucketing.localBucketId(bucketValue, dt, nBuckets)
      .getOrElse(LakeDataset.NullBucket)
    // A bucket id with no cells (sparse layout, or a freshly pruned load)
    // plans the empty frame.
    unionViews(parts.asScala.collect {
      case (key, part) if key.bucketNr.forall(_ == targetBucket) => part.view
    }.toList)
  }

  /** Zone-map pruning (engine-level data skipping): for an equality
    * predicate on any tracked column, only parts whose [min,max] interval
    * may contain the value contribute to the plan. Complements [[prunedDF]]
    * (partition columns) and [[bucketPrunedDF]] (bucket column) with
    * arbitrary-column statistics — the lakehouse file-skipping design, kept
    * in the catalog so pruning costs zero I/O. Parts without statistics
    * (lazily loaded) always scan: pruning fails open, never closed.
    */
  def zonePrunedDF(colName: String, value: Any): DataFrame =
    zoneFiltered(z => z.get(colName).forall(_.mayContain(value)))

  /** Range variant of [[zonePrunedDF]]: parts whose [min,max] overlaps
    * [lo, hi] (inclusive).
    */
  def zoneRangePrunedDF(colName: String, lo: Any, hi: Any): DataFrame = {
    val q = Zone(Option(lo), Option(hi))
    zoneFiltered(z => z.get(colName).forall(_.overlaps(q)))
  }

  /** Union of the cells holding bucket id `b` (across all partitions) — the
    * building block of co-located bucket joins (graft.operators.Joins): two
    * datasets hash-bucketed the same way join bucket-by-bucket, so each
    * sub-join only handles 1/nBuckets of either side. Rows whose bucket
    * column is NULL live in the sentinel cells and are not part of any
    * numbered bucket.
    */
  def bucketCells(b: Int): DataFrame =
    unionViews(parts.asScala.collect {
      case (key, part) if key.bucketNr.contains(b) => part.view
    }.toList)

  /** The table's current schema without running a job. */
  def tableSchema: org.apache.spark.sql.types.StructType =
    parts.values().asScala.headOption.map(_.df.schema)
      .orElse(cleanScan.map(_.schema))
      .getOrElse(throw new IllegalStateException("dataset has no schema yet"))

  /** A DataFrame whose plan is ONE [[graft.plans.LakeScan]] leaf — the plan
    * [[Database]] registers as the table's SQL temp view. The leaf resolves
    * to the real (engine-pruned, always-current) scan during logical
    * optimization via `graft.plans.LakePruneRule`; requires the session to
    * carry `spark.sql.extensions=graft.plans.GraftExtensions`.
    */
  def scanDF: DataFrame = {
    val attrs = tableSchema.fields.toSeq.map(f =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        f.name, f.dataType, f.nullable)())
    Bridge.ofRows(spark, graft.plans.LakeScan(this, attrs))
  }

  /** Union of only the parts that can satisfy a conjunctive predicate set —
    * the engine-side prune the SQL path calls from `LakePruneRule`. All
    * axes apply at once from the catalog (no I/O, no jobs):
    * partition-directory values and the bucket id for equality constraints,
    * zone intervals for both equalities and [lo, hi] ranges, bloom
    * membership for equalities on bloom-tracked columns, and — for IN-lists
    * (`ins`) — the DISJUNCTION of the same per-value checks: a part
    * survives an IN if ANY listed value might live in it, which skips the
    * directories/buckets/zones between scattered IN values that a covering
    * interval would keep.
    *
    * Falls back to [[toDF]] when nothing was pruned, or when the table has a
    * single clean snapshot and the prune would keep MOST parts — each kept
    * part re-scans that same snapshot, so k re-scans only beat the one
    * clean scan when k is small.
    */
  private[graft] def prunedByConstraints(
      eq: Map[String, Any],
      ranges: Map[String, (Option[Any], Option[Any])],
      ins: Map[String, Seq[Any]] = Map.empty): DataFrame = this.synchronized {
    if (parts.isEmpty || (eq.isEmpty && ranges.isEmpty && ins.isEmpty)) return toDF
    val all = parts.asScala.toList
    assembleKept(all, keptBy(all, eq, ranges, ins))
  }

  /** Disjunctive prune: the union of parts any BRANCH keeps — the engine
    * side of `WHERE a OR b` where each branch is itself a conjunction the
    * single-branch prune understands. A branch with no usable constraints
    * keeps everything (sound fail-open), collapsing to [[toDF]].
    */
  private[graft] def prunedByDisjunction(
      branches: Seq[(Map[String, Any], Map[String, (Option[Any], Option[Any])],
        Map[String, Seq[Any]])]): DataFrame = this.synchronized {
    if (parts.isEmpty || branches.isEmpty) return toDF
    if (branches.exists { case (e, r, i) => e.isEmpty && r.isEmpty && i.isEmpty })
      return toDF
    val all = parts.asScala.toList
    val keptKeys = branches.iterator
      .flatMap { case (e, r, i) => keptBy(all, e, r, i).iterator.map(_._1) }
      .toSet
    assembleKept(all, all.filter { case (k, _) => keptKeys.contains(k) })
  }

  /** Membership prune for a LARGE probe-key set on a BIGINT column — the
    * incremental-index batch probe. Semantically identical to
    * [[prunedByConstraints]] with `ins = Map(keyCol -> keys)`, but built for
    * 100k+ keys: keys group by bucket id ONCE (each cell then consults only
    * its own bucket's keys), and the per-key Bloom plane hashes compute
    * without per-value Catalyst expression construction
    * ([[Bloom.hashesOfLong]]). Keeps every part that may hold ANY probe key;
    * a part is skipped only when zones/blooms PROVE all its candidates
    * absent — fail open, never closed.
    */
  private[graft] def prunedByLongKeys(keyCol: String, keys: Array[Long]): DataFrame =
    this.synchronized {
      if (parts.isEmpty) return toDF
      if (keys.isEmpty) return emptyLike
      require(tableSchema(keyCol).dataType ==
        org.apache.spark.sql.types.LongType, s"$keyCol is not BIGINT")
      val isBucketKey = bucketCols.headOption.contains(keyCol)
      val isBloomKey = bloomCols.contains(keyCol)
      val hashes: Array[Array[Long]] =
        if (isBloomKey) keys.map(Bloom.hashesOfLong) else null
      val allIdx = keys.indices.toArray
      // Key indices per bucket id (the driver-side mirror of the routing
      // expression: Pmod(key, nBuckets), matching Bucketing.localBucketId
      // for BIGINT). Non-null keys never land in the null-bucket sentinel.
      val idxByBucket: Map[Int, Array[Int]] =
        if (isBucketKey)
          allIdx.groupBy(i => (((keys(i) % nBuckets) + nBuckets) % nBuckets).toInt)
        else Map.empty
      val all = parts.asScala.toList
      val kept = all.filter { case (key, part) =>
        val idxs: Array[Int] =
          if (!isBucketKey) allIdx
          else key.bucketNr match {
            case Some(LakeDataset.NullBucket) => Array.emptyIntArray
            case Some(b) => idxByBucket.getOrElse(b, Array.emptyIntArray)
            case None => allIdx
          }
        val zone = part.zones.flatMap(_.get(keyCol))
        val bloom = if (isBloomKey) part.blooms.flatMap(_.get(keyCol)) else None
        var i = 0
        var found = false
        while (i < idxs.length && !found) {
          val k = keys(idxs(i))
          found = zone.forall(_.mayContain(k)) &&
            bloom.forall(_.mightContainHashes(hashes(idxs(i))))
          i += 1
        }
        found
      }
      assembleKept(all, kept)
    }

  /** Drop whole cells — the engine's DROP PARTITION. Removes the cells from
    * the catalog, deletes their directories when persisted, and republishes
    * the manifest. The caller owns the replacement semantics (e.g. an IVF
    * recluster that re-assigned a list's vectors into new cells before
    * dropping the old one).
    */
  def dropParts(keys: Seq[PartKey]): Unit = this.synchronized {
    val removed = keys.flatMap(k => Option(parts.remove(k)).map(_ => k))
    if (removed.isEmpty) return
    removed.foreach { k => diskDirs.remove(k); diskSchemas.remove(k) }
    markDirty()
    storage.foreach { spec =>
      removed.foreach(k =>
        LakeDataset.deleteRecursively(Paths.get(s"${spec.root}/${k.relPath}")))
      writeManifest()
    }
  }

  /** Rewrite the manifest from the current in-memory catalog (counts, zones,
    * blooms) — for callers that persisted cell FILES themselves (e.g. the
    * incremental index's one-pass batch write) and need the stats published.
    */
  def writeManifest(): Unit = {
    val spec = storage.getOrElse(throw new IllegalStateException("no storage spec"))
    val ddl = parts.values().asScala.headOption.map(_.df.schema.toDDL)
    commitManifest(spec)(v => fullManifest(spec, ddl, v))
  }

  /** The one spelling of a stats-carrying manifest — named args so a new
    * field can never silently bind into a neighboring slot (the positional
    * 12-arg constructor is how round 8 shipped a 15-error build).
    */
  private def fullManifest(spec: StorageSpec, ddl: Option[String], v: Long): Manifest = {
    // Each part's stats are read BEFORE its tightness: a concurrent
    // invalidation landing in between then reads as untight (nothing
    // vouched), never as a stale value vouched for.
    val cells = parts.asScala.map { case (key, part) =>
      val st = part.stats
      key.relPath -> ((st, part.vouched))
    }
    StatFamily.all.foldLeft(Manifest(partitionCols, bucketCols, nBuckets, spec, ddl,
      bloomCols = bloomCols, partRows = serializedRows, sketchCols = sketchCols,
      quantileCols = quantileCols, freqCols = freqCols, checks = checksMap,
      version = v))((m, f) => f.store(m, cells))
  }

  // ------------------------------------------------------------------
  // Optimistic concurrency — the manifest commit protocol.
  // ------------------------------------------------------------------

  /** Last manifest version this handle committed or loaded; -1 until the
    * handle first engages the root (a fresh handle's first save is an
    * explicit overwrite, like `mode("overwrite")`).
    */
  private[lake] val committedVersion =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  private def onDiskVersion(spec: StorageSpec): Long =
    try Manifest.read(spec.root).version catch { case _: Exception => -1L }

  /** Optimistic-concurrency gate: a handle that has loaded or committed
    * version V may only commit over version V — anything else on disk
    * means ANOTHER writer committed since, and proceeding would silently
    * clobber its changes (lost update). Abort loudly; the caller reloads
    * and retries, exactly the lakehouse optimistic-commit loop. On an
    * object store this check-then-write is a conditional put (ETag /
    * if-match); on a local filesystem it is best-effort TOCTOU — the
    * detection window is the manifest write itself.
    */
  private def checkCommitToken(spec: StorageSpec): Unit = {
    val expected = committedVersion.get
    val onDisk = onDiskVersion(spec)
    if (expected >= 0L && onDisk >= 0L && onDisk != expected)
      throw new java.util.ConcurrentModificationException(
        s"concurrent commit on ${spec.root}: this handle is at manifest " +
          s"version $expected but disk holds $onDisk — reload and retry")
  }

  // -- Optimistic REBASE state: two fingerprint baselines let a stale
  // handle commit DISJOINT work over a concurrent writer instead of
  // aborting (the loser of the old abort-only CAS reran everything; at
  // 100 TB with parallel ingest that was the first operational wall).
  //
  //  - `commitBaseMem`: per-cell fingerprint of the manifest this handle's
  //    MEMORY last agreed with (set at load and advanced at each commit) —
  //    diffing the would-be manifest against it yields exactly the cells
  //    THIS handle changed, by construction: the diff is computed from the
  //    same maps being committed, so no mutation path can slip past it.
  //  - `commitBaseDisk`: per-cell fingerprint of the manifest version this
  //    handle last reconciled with — diffing the on-disk manifest against
  //    it yields the cells OTHER writers changed since.
  //
  // Disjoint change sets merge cell-wise (parts are membership-by-
  // directory, so the concurrent writers' FILES already coexist — only
  // the stats manifest needed the merge); overlapping sets still abort
  // loudly. After a first rebase the handle's memory no longer mirrors
  // the root (it never loaded the other writer's cells), so every later
  // commit stays on the merge path — the full-manifest fast path would
  // serialize stale entries over the other writer's cells.
  //
  // Design boundary (documented, not detected): a mutation that rewrites
  // a cell's FILES while leaving every stat entry bit-identical (e.g. a
  // pure re-layout of identical rows) is fingerprint-invisible; two such
  // writers racing one cell keep whichever layout landed last — sound,
  // since both describe the same rows. Every row-changing mutation moves
  // the cell's partRows entry (value or tightness-presence) and is seen.
  @volatile private[lake] var commitBaseMem: Map[String, String] = Map.empty
  @volatile private[lake] var commitBaseDisk: Map[String, String] = Map.empty
  @volatile private[lake] var commitBaseChecks: Map[String, String] = Map.empty
  @volatile private[lake] var mergeCommits: Boolean = false

  private[lake] def initCommitBase(m: Manifest): Unit = {
    val fp = LakeDataset.statFingerprints(m)
    commitBaseMem = fp
    commitBaseDisk = fp
    commitBaseChecks = m.checks
  }

  private def commitManifest(spec: StorageSpec)(build: Long => Manifest): Unit = {
    val expected = committedVersion.get
    val onDisk = onDiskVersion(spec)
    val conflicted = expected >= 0L && onDisk >= 0L && onDisk != expected
    if (!conflicted && !(mergeCommits && onDisk >= 0L)) {
      val next = math.max(0L, math.max(onDisk, expected)) + 1L
      val m = build(next)
      // Conditional on the version we based `next` on: a writer landing
      // between the read above and here flips this to the merge path
      // instead of being clobbered.
      if (Manifest.writeIfVersion(m, spec.root, onDisk)) {
        committedVersion.set(next)
        val fp = LakeDataset.statFingerprints(m)
        commitBaseMem = fp
        commitBaseDisk = fp
        commitBaseChecks = m.checks
      } else rebaseCommit(spec, build)
    } else rebaseCommit(spec, build)
  }

  /** Merge-commit a stale handle's changes over a concurrent writer's.
    * Aborts (same exception as the plain CAS) when the two change sets
    * touch a common cell, when the table layout/schema diverged, or when
    * both sides changed the CHECK-constraint set differently — everything
    * else re-commits without rerunning any work.
    *
    * BOUNDED RETRY: under 3+-writer contention a merge can lose the write
    * race itself (another writer commits between this handle's manifest
    * read and its conditional write). Losing the race invalidates nothing
    * about OUR changes — `mine` and its fingerprints are computed once —
    * so the loop re-reads the fresh manifest, re-validates disjointness
    * against it, re-merges, and retries the conditional write, up to
    * [[LakeDataset.MaxCommitAttempts]] attempts. Every retry is
    * driver-side manifest arithmetic; no Spark job reruns. Genuine
    * conflicts (overlapping cells, diverged layout/schema/checks) still
    * abort on whichever attempt observes them — retrying cannot fix a
    * lost-update hazard, only a lost race.
    */
  private def rebaseCommit(spec: StorageSpec, build: Long => Manifest): Unit = {
    val mine = build(0L)
    val fpMine = LakeDataset.statFingerprints(mine)
    def layoutOf(m: Manifest) = (m.partitions, m.buckets, m.nBuckets,
      m.bloomCols, m.sketchCols, m.quantileCols, m.freqCols, m.storage.format)
    var attempt = 0
    var committed = false
    while (!committed) {
      attempt += 1
      val disk = Manifest.read(spec.root)
      if (layoutOf(disk) != layoutOf(mine))
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit on ${spec.root}: table layout diverged " +
            s"(${layoutOf(disk)} vs ${layoutOf(mine)}) — reload and retry")
      if (disk.schemaDdl != mine.schemaDdl &&
          disk.schemaDdl.nonEmpty && mine.schemaDdl.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit on ${spec.root}: schema diverged — reload and retry")
      val fpDisk = LakeDataset.statFingerprints(disk)
      val myTouched = (commitBaseMem.keySet ++ fpMine.keySet)
        .filter(p => fpMine.get(p) != commitBaseMem.get(p))
      val theirChanged = (commitBaseDisk.keySet ++ fpDisk.keySet)
        .filter(p => fpDisk.get(p) != commitBaseDisk.get(p))
      val overlap = myTouched & theirChanged
      if (overlap.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit on ${spec.root}: both writers touched " +
            s"${overlap.take(5).mkString(", ")}${if (overlap.size > 5) ", …" else ""}" +
            s" — reload and retry")
      // CHECK constraints merge three-way: an unchanged side adopts the
      // changed side's set (and this handle starts ENFORCING a concurrently
      // added constraint immediately); both-changed-differently aborts.
      val mergedChecks =
        if (mine.checks == commitBaseChecks) disk.checks
        else if (disk.checks == commitBaseChecks || disk.checks == mine.checks) mine.checks
        else throw new java.util.ConcurrentModificationException(
          s"concurrent commit on ${spec.root}: CHECK constraints diverged — reload and retry")
      val next = math.max(disk.version, committedVersion.get) + 1L
      val merged = StatFamily.all.foldLeft(mine.copy(
        schemaDdl = mine.schemaDdl.orElse(disk.schemaDdl),
        partRows = (disk.partRows -- myTouched) ++ mine.partRows.view.filterKeys(myTouched).toMap,
        checks = mergedChecks,
        version = next))((m, f) => f.rebased(m, disk, mine, myTouched))
      committed = Manifest.writeIfVersion(merged, spec.root, disk.version)
      if (committed) {
        committedVersion.set(next)
        mergeCommits = true
        commitBaseMem = fpMine
        commitBaseDisk = LakeDataset.statFingerprints(merged)
        commitBaseChecks = mergedChecks
        checksMap = mergedChecks
      } else if (attempt >= LakeDataset.MaxCommitAttempts)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit on ${spec.root}: lost the commit race " +
            s"${LakeDataset.MaxCommitAttempts} times — reload and retry")
    }
  }

  // ------------------------------------------------------------------
  // CHECK constraints — the table-level data contract, enforced at the
  // WRITE boundary (a 100 TB table cannot afford read-time validation;
  // rejecting a bad batch costs one aggregate over the batch only).
  // ------------------------------------------------------------------

  /** Active CHECK constraints: name → SQL boolean expression. */
  @volatile private[lake] var checksMap: Map[String, String] = Map.empty
  def checks: Map[String, String] = checksMap

  /** Add a CHECK constraint. Existing rows must already satisfy it (one
    * aggregate scan — ALTER TABLE ADD CONSTRAINT semantics in every SQL
    * engine); from then on every insert/upsert/update enforces it against
    * the INCOMING rows only. SQL CHECK semantics: a row violates only when
    * the expression evaluates to FALSE — NULL passes.
    */
  def addCheck(name: String, predicate: String): Unit = this.synchronized {
    require(name.matches("[A-Za-z_][\\w]*"), s"bad constraint name: '$name'")
    if (!parts.isEmpty || cleanScan.isDefined) {
      val n = toDF.filter(expr(predicate) === false).count()
      require(n == 0L,
        s"cannot add CHECK constraint '$name': $n existing rows violate ($predicate)")
    } else {
      // Empty table: still fail fast on an unparseable expression.
      spark.sessionState.sqlParser.parseExpression(predicate)
    }
    checksMap += name -> predicate
    if (storage.isDefined) writeManifest()
  }

  /** Drop a CHECK constraint; true when it existed. */
  def dropCheck(name: String): Boolean = this.synchronized {
    val existed = checksMap.contains(name)
    checksMap -= name
    if (existed && storage.isDefined) writeManifest()
    existed
  }

  /** A constraint applies to a batch only when every column it references
    * is present — a MISSING column in an upsert delta keeps the old
    * (already validated) value through the merge coalesce, so there is
    * nothing to check on the batch. Resolution failures fall through to
    * analysis, which reports them loudly.
    */
  private def checkAppliesTo(predicate: String, cols: Set[String]): Boolean =
    try {
      spark.sessionState.sqlParser.parseExpression(predicate).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase
      }.forall(cols.contains)
    } catch { case _: Exception => true }

  /** Reject `df` if any applicable constraint has violating rows — ONE
    * aggregate job counts every constraint at once (no per-constraint
    * scans). No-op (zero jobs) when the table has no constraints.
    */
  private def enforceChecks(df: DataFrame, what: String): Unit = {
    if (checksMap.isEmpty) return
    val cols = df.columns.map(_.toLowerCase).toSet
    val applicable = checksMap.toSeq.filter(c => checkAppliesTo(c._2, cols))
    if (applicable.isEmpty) return
    val aggs = applicable.map { case (n, e) =>
      count(when(expr(e) === false, 1)).as(s"__chk_$n")
    }
    val row = df.select(aggs: _*).head()
    val bad = applicable.zipWithIndex.collect {
      case ((n, e), i) if row.getLong(i) > 0L => s"'$n' ($e): ${row.getLong(i)} rows"
    }
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"$what rejected by CHECK constraint(s) ${bad.mkString("; ")}")
  }

  // ------------------------------------------------------------------
  // Column DDL — plan-level schema evolution, no data pass.
  // ------------------------------------------------------------------

  /** Common gate for column DDL: the column must not be a layout axis
    * (partition/bucket/bloom — those changes are relayouts) and must not
    * be referenced by a CHECK constraint (drop the constraint first —
    * silently orphaning it would disable a data contract).
    */
  private def alterableColumn(name: String): Unit = {
    require(!partitionCols.contains(name) && !bucketCols.contains(name),
      s"column '$name' is a partition/bucket axis - use ALTER TABLE " +
        "PARTITIONED BY/BUCKETED BY (a relayout) instead")
    val carried = StatFamily.all.filter(_.declared(this).contains(name))
    require(carried.isEmpty,
      s"column '$name' carries ${carried.mkString(", ")} - relayout to change it")
    val referencing = checksMap.filter { case (_, e) =>
      try spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.head.toLowerCase
      }.contains(name.toLowerCase)
      catch { case _: Exception => false }
    }
    require(referencing.isEmpty,
      s"column '$name' is referenced by CHECK constraint(s) " +
        s"${referencing.keys.mkString(", ")} - drop them first")
  }

  /** Apply one plan transform to every cell (and the empty-table clean
    * scan), evicting disk-backed fast paths — the files no longer match
    * the live schema until the next save, exactly like any mutation.
    */
  private def alterAllParts(f: DataFrame => DataFrame,
      dropStats: Set[String], renameStats: Map[String, String]): Unit = {
    if (parts.isEmpty) { cleanScan = cleanScan.map(f); return }
    markDirty()
    parts.forEach { (k, p) =>
      diskDirs.remove(k); diskSchemas.remove(k)
      p.alterPlan(f, dropStats, renameStats)
    }
  }

  /** ADD COLUMN: every existing row reads the column as NULL — a plan-level
    * projection per cell, zero data passes (Delta's metadata-only ADD
    * COLUMN, expressed on plans). The new column is deliberately NOT added
    * to the tracked stat sets: existing parts have no baseline for it, and
    * folding future batches into a never-baselined column would produce a
    * falsely exact sum — metadata answers over it fail open until a
    * relayout retracks. Ingested batches may populate it immediately.
    */
  def addColumn(name: String, ddlType: String): Unit = this.synchronized {
    val dt = org.apache.spark.sql.types.DataType.fromDDL(ddlType)
    require(!tableSchema.fieldNames.contains(name), s"column '$name' already exists")
    alterAllParts(_.withColumn(name, lit(null).cast(dt)), Set.empty, Map.empty)
  }

  /** DROP COLUMN: plan-level projection; the column's stats entries drop
    * with it (remaining stats still exact — tightness survives).
    */
  def dropColumn(name: String): Unit = this.synchronized {
    require(tableSchema.fieldNames.contains(name), s"unknown column '$name'")
    alterableColumn(name)
    tracked = tracked.map { case (f, s) => f -> (s - name) }
    alterAllParts(_.drop(name), dropStats = Set(name), renameStats = Map.empty)
  }

  /** RENAME COLUMN: plan-level rename; stats entries AND the tracked stat
    * sets remap with it, so zones/sums keep widening under the new name
    * (a stale entry under the old name would be unsound on the next
    * insert).
    */
  def renameColumn(from: String, to: String): Unit = this.synchronized {
    require(tableSchema.fieldNames.contains(from), s"unknown column '$from'")
    require(!tableSchema.fieldNames.contains(to), s"column '$to' already exists")
    alterableColumn(from)
    tracked = tracked.map { case (f, s) => f -> (if (s(from)) s - from + to else s) }
    alterAllParts(_.withColumnRenamed(from, to),
      dropStats = Set.empty, renameStats = Map(from -> to))
  }

  /** ANALYZE TABLE: recompute exact statistics for every cell that cannot
    * currently vouch for tight stats — WITHOUT rewriting any data file
    * (OPTIMIZE/materialize rewrites; this is the stats-only half). Each
    * untight cell runs one aggregation job over its own files, fanned out
    * on the ioPool; afterwards count/min/max/sum aggregates collapse to
    * the catalog again and the manifest persists the restored vouch. The
    * 100 TB use case: a table loaded from a foreign or stats-less manifest
    * becomes metadata-answerable for the cost of one read pass, no write.
    * Returns the number of cells analyzed.
    */
  def analyze(): Int = this.synchronized {
    val untight = parts.values().asScala
      .filterNot(_.vouched).toList
    if (untight.isEmpty) return 0
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = LakeDataset.ioPool
    untight.map(p => Future(p.analyzeStats())).foreach(Await.result(_, Duration.Inf))
    if (storage.isDefined) writeManifest()
    untight.size
  }

  /** Auto re-tighten — the stats-only analogue of the auto-compaction and
    * feed auto-checkpoint thresholds: when a mutation leaves MORE than
    * `spark.graft.stats.autoAnalyzeCells` (default 64; <= 0 disables)
    * cells unable to vouch for tight stats, re-analyze exactly those
    * cells ([[analyze]] — read-only, parallel on the ioPool, O(dirty
    * cells), no file rewrites). Amortized cost: one extra read of each
    * dirtied cell per threshold crossing; in return the
    * COUNT/MIN/MAX/SUM/AVG catalog collapse keeps answering under
    * sustained mutation instead of degrading to ever-larger hybrid
    * scans. The long-lived-table story: auto-compaction bounds plan
    * depth, auto-checkpoint bounds feed history, auto-analyze bounds
    * metadata staleness.
    */
  private def maybeAutoAnalyze(): Unit = {
    val thr = spark.conf.get("spark.graft.stats.autoAnalyzeCells", "64").toInt
    if (thr <= 0) return
    val untight = parts.values().asScala
      .count(!_.vouched)
    if (untight > thr) analyze()
  }

  // ------------------------------------------------------------------
  // SHALLOW CLONE — an independent table over the SAME data bytes.
  // ------------------------------------------------------------------

  /** Zero-copy SHALLOW CLONE: materialize an independent, fully mutable
    * table at `newRoot` without copying any data bytes. Data files are
    * HARD-LINKED into a mirrored directory layout (O(files) metadata
    * operations — a 100 TB table clones in seconds); the manifest (and any
    * other `_`-prefixed metadata rewritten in place) is COPIED so the two
    * tables' catalogs never share an inode. Stats/blooms/rows/sums carry
    * over exactly — the bytes are identical.
    *
    * Isolation falls out of the writer's own mechanics: Spark writes
    * replace files (new inodes) rather than mutating them, so a mutation
    * on either side unlinks from the shared inode and the other table is
    * untouched — copy-on-write at file granularity. On an object store the
    * same design is a manifest-level pointer or server-side copy (S3
    * CopyObject is a metadata operation within a bucket); the local-FS
    * link is its POSIX analogue, with a per-file byte-copy fallback for
    * filesystems without hard links.
    *
    * Clones the CURRENT state: if any cell is ahead of its directory, the
    * table saves first.
    */
  def shallowCloneTo(newRoot: String): LakeDataset = this.synchronized {
    val spec = storage.getOrElse(throw new IllegalStateException(
      "shallow clone needs a storage-backed table (set a StorageSpec)"))
    val rootP = Paths.get(spec.root).toAbsolutePath.normalize
    val newP = Paths.get(newRoot).toAbsolutePath.normalize
    require(!newP.startsWith(rootP) && !rootP.startsWith(newP),
      s"clone root $newP must be disjoint from source root $rootP")
    val current = Files.exists(rootP.resolve(Manifest.FileName)) &&
      parts.keySet().asScala.forall(diskDirs.containsKey)
    if (!current) toStorage()
    LakeDataset.deleteRecursively(newP)
    val walk = Files.walk(rootP)
    try {
      walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        val dest = newP.resolve(rootP.relativize(p))
        Files.createDirectories(dest.getParent)
        val name = p.getFileName.toString
        if (name.startsWith("_") || name.startsWith(".") ||
            name == Manifest.LegacyFileName)
          Files.copy(p, dest) // in-place-rewritten metadata: never share inodes
        else
          try Files.createLink(dest, p)
          catch { case _: java.io.IOException => Files.copy(p, dest) }
      }
    } finally walk.close()
    LakeDataset.fromStorage(spark, newP.toString)
  }

  /** Exact row counts of the parts whose stats are tight — the manifest's
    * persisted tightness vouch (see [[graft.model.Manifest.partRows]]).
    */
  private def serializedRows: Map[String, Long] =
    parts.asScala.flatMap { case (key, part) => part.vouchedRows.map(key.relPath -> _) }.toMap

  /** Shared plan assembly + fallbacks for the prune paths: everything kept →
    * the (possibly clean-scan) whole table; nothing kept → a legitimately
    * empty result; a clean snapshot where the prune keeps MOST parts → the
    * one clean scan (k re-scans of the same snapshot only beat it when k is
    * small).
    */
  private def assembleKept(
      all: List[(PartKey, LakePart)], kept: List[(PartKey, LakePart)]): DataFrame =
    if (kept.size == all.size) toDF
    else if (cleanScan.isDefined && kept.size * 2 > all.size) toDF
    else assembleSubset(kept)

  /** The parts one conjunction keeps — every axis checked from the catalog
    * (no I/O, no jobs): partition-directory values and the bucket id for
    * equality constraints, zone intervals for equalities and ranges, bloom
    * membership for equalities on bloom-tracked columns, and the per-value
    * disjunction of the same checks for IN-lists.
    */
  private def keptBy(
      all: List[(PartKey, LakePart)],
      eq: Map[String, Any],
      ranges: Map[String, (Option[Any], Option[Any])],
      ins: Map[String, Seq[Any]]): List[(PartKey, LakePart)] = {
    val partEq: Map[String, String] = eq.collect {
      case (c, v) if partitionCols.contains(c) => c -> String.valueOf(v)
    }
    val bucketTarget: Option[Int] =
      if (bucketCols.isEmpty) None
      else eq.get(bucketCols.head).flatMap { v =>
        val dt = tableSchema(bucketCols.head).dataType
        Bucketing.localBucketId(v, dt, nBuckets)
      }
    val qZones: Map[String, Zone] =
      eq.map { case (c, v) => c -> Zone(Option(v), Option(v)) } ++
        ranges.map { case (c, (lo, hi)) => c -> Zone(lo, hi) }
    // Equality on a bloom-tracked column additionally prunes by MEMBERSHIP —
    // the axis zones cannot see for hash-scattered keys.
    val qBloomHashes: Map[String, Seq[Long]] = eq.iterator.collect {
      case (c, v) if bloomCols.contains(c) =>
        Bloom.hashesOf(v, tableSchema(c).dataType).map(c -> _)
    }.flatten.toMap

    // One prepared check per IN column: (key, part) => any value matches on
    // every axis. Everything literal-derived precomputes once, not per part.
    val inChecks: Seq[(PartKey, LakePart) => Boolean] = ins.toSeq.map { case (c, vs) =>
      val isPartCol = partitionCols.contains(c)
      val isBucketCol = bucketCols.headOption.contains(c)
      val dt = tableSchema(c).dataType
      val strs = vs.map(String.valueOf(_))
      val bucketIds: Seq[Option[Int]] =
        if (isBucketCol) vs.map(v => Bucketing.localBucketId(v, dt, nBuckets)) else Nil
      val hashes: Seq[Option[Seq[Long]]] =
        if (bloomCols.contains(c)) vs.map(v => Bloom.hashesOf(v, dt)) else Nil
      (key: PartKey, part: LakePart) => vs.indices.exists { i =>
        (!isPartCol ||
          key.partValues.forall { case (kc, kv) => kc != c || kv == strs(i) }) &&
        (!isBucketCol ||
          bucketIds(i).forall(b => key.bucketNr.forall(_ == b))) &&
        part.zones.forall(_.get(c).forall(_.mayContain(vs(i)))) &&
        (hashes.isEmpty || part.blooms.forall(bs =>
          bs.get(c).forall(b => hashes(i).forall(b.mightContainHashes))))
      }
    }

    all.filter { case (key, part) =>
      partEq.forall { case (c, v) =>
        key.partValues.forall { case (kc, kv) => kc != c || kv == v } } &&
      bucketTarget.forall(b => key.bucketNr.forall(_ == b)) &&
      part.zones.forall(zs => qZones.forall { case (c, qz) =>
        zs.get(c).forall(_.overlaps(qz)) }) &&
      part.blooms.forall(bs => qBloomHashes.forall { case (c, hs) =>
        bs.get(c).forall(_.mightContainHashes(hs)) }) &&
      inChecks.forall(_(key, part))
    }
  }

  private def zoneFiltered(keep: Map[String, Zone] => Boolean): DataFrame =
    unionViews(parts.values().asScala.toList.collect {
      case part if part.zones.forall(keep) => part.view
    })

  /** Empty DataFrame with the table schema (for prune paths matching zero parts). */
  private def emptyLike: DataFrame = {
    val sample = parts.values().asScala.headOption
      .getOrElse(throw new IllegalStateException("dataset has no parts"))
    // Schema-only empty relation — `sample.df.limit(0)` would keep the
    // part's file-scan lineage in the plan (zero rows read, but the scan
    // still plans, lists and occupies the DAG); a pruned-to-nothing read
    // should cost NOTHING.
    spark.createDataFrame(new java.util.ArrayList[Row](), sample.df.schema)
  }

  /** Maintained row count — sum of per-part counters; stale after upserts
    * until materialize, by design (reference src/dataset.rs:245-253). Parts
    * whose counter is unknown (-1: loaded lazily from storage, or after a
    * delete) are recounted once — concurrently, one Spark job per unknown
    * part — instead of silently poisoning the sum with the sentinel.
    */
  /** One part's row count: the maintained counter when known, else one
    * count job over the part view (lazily loaded parts carry -1).
    */
  def partRows(key: PartKey): Long =
    Option(parts.get(key)).map { p =>
      val r = p.rows.get
      if (r >= 0L) r else p.view.count()
    }.getOrElse(0L)

  def rowsCount: Long = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = LakeDataset.ioPool
    val futures = parts.values().asScala.toList.map { p =>
      val r = p.rows.get
      if (r >= 0L) Future.successful(r)
      else Future { val n = p.view.count(); p.rows.set(n); n }
    }
    futures.map(Await.result(_, Duration.Inf)).sum
  }

  /** The ONE catalog read behind every metadata answer — zero Spark jobs,
    * zero file reads: a driver-side fold over the per-cell statistics
    * ([[StatFamily]]), under the dataset monitor so one answer never mixes
    * two table versions. It owns, once each:
    *
    *  - the empty-table rule: a table with no cells answers None;
    *  - the cell filter: selection is EXACT for whole-cell predicates
    *    (partition-value equality/IN), a cell holding precisely its rows;
    *  - the declaration rule: an opt-in family answers only for declared
    *    columns;
    *  - the TIGHT-AND-COUNTED gate ([[LakePart.vouchedRows]]): pure-append
    *    history, a recount, or a vouching manifest.
    *    A plain fold answers None unless every selected cell passes; a
    *    `hybrid` fold splits the cells passing it AND carrying every
    *    requested `families` column (vouched) from the rest, returns a scan
    *    over only the rest, and answers None when nothing vouched;
    *  - zero-row cells: a grouped fold drops them (a real GROUP BY emits no
    *    group without rows) unless `emptyGroups` (top-k and group counts
    *    are defined over zero rows);
    *  - grouping: by PARTITION columns only, each group's values decoded
    *    from the catalog's strings (None when a value does not round-trip);
    *  - order: cells in relPath order, so the order-sensitive merges
    *    (quantiles, frequent items) are deterministic.
    *
    * The per-family answers are projections of the result ([[CellGroup]]);
    * any cell lacking a family or column fails that answer open — fall back
    * to a scan, never a wrong answer.
    */
  private[graft] def fold(
      families: Seq[(StatFamily[_, _], Seq[String])] = Nil,
      groupBy: Option[Seq[String]] = None,
      cellFilter: PartKey => Boolean = _ => true,
      hybrid: Boolean = false,
      emptyGroups: Boolean = false): Option[CatalogFold] = this.synchronized {
    if (parts.isEmpty) return None
    if (families.exists { case (f, cs) => f.optIn && !cs.forall(f.declared(this).contains) })
      return None
    if (groupBy.exists(g => g.isEmpty || !g.forall(partitionCols.contains))) return None
    val (vouched, rest) = parts.asScala.toList.filter(p => cellFilter(p._1)).partition {
      case (_, p) => p.vouched && (!hybrid || families.forall { case (f, cs) => p.stats.covers(f, cs) })
    }
    if (if (hybrid) vouched.isEmpty && rest.nonEmpty else rest.nonEmpty) return None
    val cells = vouched.map { case (k, p) => FoldCell(k, p.rows.get, p.stats) }.sortBy(_.key.relPath)
    val groups = groupBy match {
      case None => Seq(CellGroup(Nil, cells))
      case Some(g) =>
        val schema = tableSchema
        val live = if (emptyGroups) cells else cells.filter(_.rows > 0L)
        live.groupBy(c => g.map(c.key.valueOf)).toSeq.map { case (strs, members) =>
          CellGroup(strs.zip(g).map { case (s, c) =>
            CatalogFold.decode(s, schema(c).dataType).getOrElse(return None)
          }, members)
        }
    }
    Some(CatalogFold(groups, if (rest.isEmpty) None else Some(assembleSubset(rest))))
  }

  /** Exact row count and per-column [min, max] from the catalog — the
    * lakehouse metadata-query property: `COUNT(*)`, `MIN(k)`, `MAX(k)` over
    * a 10k-cell table cost a fold over 10k catalog entries instead of a
    * scan. An empty selection answers (0, no values).
    */
  def metaStats(cols: Seq[String],
      cellFilter: PartKey => Boolean = _ => true): Option[(Long, Map[String, Zone])] =
    fold(cellFilter = cellFilter).flatMap(_.whole.zones(cols))

  /** [[metaStats]] per group of PARTITION-column values (external JVM
    * values; a null partition value is the SQL NULL group). Groups without
    * rows are omitted.
    */
  def metaStatsGrouped(groupCols: Seq[String], cols: Seq[String],
      cellFilter: PartKey => Boolean = _ => true)
      : Option[Seq[(Seq[Any], Long, Map[String, Zone])]] =
    fold(groupBy = Some(groupCols), cellFilter = cellFilter)
      .flatMap(_.each(_.zones(cols)))
      .map(_.map { case (vals, (n, zones)) => (vals, n, zones) })

  /** Exact row count and per-column sums (see [[SumMap]]) from the catalog;
    * an empty selection answers (0, zero sums).
    */
  def metaSums(cols: Seq[String],
      cellFilter: PartKey => Boolean = _ => true): Option[(Long, Map[String, ColSum])] =
    fold(cellFilter = cellFilter).flatMap(_.whole.sums(cols))

  /** APPROX_COUNT_DISTINCT from the per-cell HLL sketches: the union
    * carries the same registers as one sketch over the table, so the
    * estimate equals a distributed `hll_sketch_estimate(hll_sketch_agg(c))`
    * scan (see [[HllMap]]). An empty selection answers 0 per column.
    */
  def metaApproxDistinct(cols: Seq[String],
      cellFilter: PartKey => Boolean = _ => true): Option[Map[String, Long]] =
    if (cols.isEmpty) None
    else fold(Seq(StatFamily.Sketches -> cols), cellFilter = cellFilter)
      .flatMap(_.whole.approxDistinct(cols))

  /** NET-NEW distinct `c` per partition value in value order:
    * `|v_i \ (v_0 ∪ … ∪ v_{i-1})|`, from the per-cell theta twins (A-not-B
    * is theta algebra; HLL cannot subtract, so pre-theta manifests fail
    * open). EXACT while the running union stays under the sketch's nominal
    * entries. Rows are (value, distinct, net_new).
    */
  def metaPartitionNetNew(c: String, partitionCol: String)
      : Option[Seq[(String, Long, Long)]] =
    if (!partitionCols.contains(partitionCol)) None
    else fold(Seq(StatFamily.Sketches -> Seq(c))) match {
      case Some(f) => f.whole.netNew(c, partitionCol)
      case None => Option.when(sketchCols.contains(c) && parts.isEmpty)(Seq.empty)
    }

  /** Pairwise overlap of distinct `c` between partition values — every
    * unordered pair `(v_a < v_b, |A|, |B|, |A ∩ B|)`, zero overlaps
    * included. Theta intersection when every cell carries the twin (EXACT
    * under nominal entries), else HLL inclusion-exclusion, whose error
    * scales with the union ([[graft.functions.ThetaAgg.overlapMatrix]] is
    * the one-scan precise path).
    */
  def metaPartitionOverlap(c: String, partitionCol: String)
      : Option[Seq[(String, String, Long, Long, Long)]] =
    if (!partitionCols.contains(partitionCol)) None
    else fold(Seq(StatFamily.Sketches -> Seq(c))) match {
      case Some(f) => f.whole.overlap(c, partitionCol)
      case None => Option.when(sketchCols.contains(c) && parts.isEmpty)(Seq.empty)
    }

  /** Approx quantiles from the per-cell GK summaries, within the GK rank
    * bound of the true quantile (see [[QuantileMap]] for why no mergeable
    * summary can promise bit-equality with a scan). None over an empty
    * selection, where no quantile is defined.
    */
  def metaApproxQuantile(cols: Seq[String], qs: Seq[Double],
      cellFilter: PartKey => Boolean = _ => true)
      : Option[Map[String, Seq[Double]]] =
    if (cols.isEmpty || qs.isEmpty) None
    else fold(Seq(StatFamily.Quantiles -> cols), cellFilter = cellFilter)
      .flatMap(_.whole.quantiles(cols, qs))

  /** [[metaApproxQuantile]] per partition group. Groups whose summarized
    * stream is empty are omitted (no quantile over zero values).
    */
  def metaApproxQuantileGrouped(groupCols: Seq[String], cols: Seq[String],
      qs: Seq[Double], cellFilter: PartKey => Boolean = _ => true)
      : Option[Seq[(Seq[Any], Map[String, Seq[Double]])]] =
    if (cols.isEmpty || qs.isEmpty) None
    else fold(Seq(StatFamily.Quantiles -> cols), Some(groupCols), cellFilter).collect {
      case f if f.groups.forall(_.column(StatFamily.Quantiles, cols).isDefined) =>
        f.groups.flatMap(g => g.quantiles(cols, qs).map(g.values -> _))
    }

  /** Top-`k` values per column from the per-cell Misra–Gries sketches, as
    * (value, lower, upper, exact): `lower ≤ true count ≤ upper` is
    * CERTIFIED, and exact whenever the column's cardinality never exceeded
    * the counter budget (see [[FreqMap]]). NULLs are not values. None over
    * an empty selection.
    */
  def metaTopK(cols: Seq[String], k: Int,
      cellFilter: PartKey => Boolean = _ => true)
      : Option[Map[String, Seq[(String, Long, Long, Boolean)]]] =
    if (cols.isEmpty || k <= 0) None
    else fold(Seq(StatFamily.Freqs -> cols), cellFilter = cellFilter)
      .flatMap(_.whole.topK(cols, k))

  /** [[metaTopK]] per partition group; zero-row groups answer an empty
    * ranking.
    */
  def metaTopKGrouped(groupCols: Seq[String], cols: Seq[String], k: Int,
      cellFilter: PartKey => Boolean = _ => true)
      : Option[Seq[(Seq[Any], Map[String, Seq[(String, Long, Long, Boolean)]])]] =
    if (cols.isEmpty || k <= 0) None
    else fold(Seq(StatFamily.Freqs -> cols), Some(groupCols), cellFilter, emptyGroups = true)
      .flatMap(_.each(_.topK(cols, k)))

  /** EXACT group-by-count table of `column` from the frequent-items
    * catalog, answered only while the folded sketch never evicted (then it
    * holds every distinct value with its exact count); the null group comes
    * from the row counters. Lets the SQL rewrite collapse `GROUP BY col +
    * COUNT` to a LocalRelation ([[graft.plans.LakePruneRule]]).
    */
  def metaGroupCounts(column: String, cellFilter: PartKey => Boolean = _ => true)
      : Option[Seq[(Option[String], Long)]] =
    fold(Seq(StatFamily.Freqs -> Seq(column)), cellFilter = cellFilter)
      .flatMap(_.whole.groupCounts(column))

  /** [[metaGroupCounts]] per partition group (zero-row groups kept); any
    * group whose fold evicted fails the whole answer open.
    */
  def metaGroupCountsGrouped(groupCols: Seq[String], column: String,
      cellFilter: PartKey => Boolean = _ => true)
      : Option[Seq[(Seq[Any], Seq[(Option[String], Long)])]] =
    fold(Seq(StatFamily.Freqs -> Seq(column)), Some(groupCols), cellFilter, emptyGroups = true)
      .flatMap(_.each(_.groupCounts(column)))

  /** [[metaHybrid]] for count and bounds only. */
  def metaStatsPartial(cols: Seq[String])
      : Option[(Long, Map[String, Zone], Option[DataFrame])] =
    metaHybrid(cols, Nil).map { case (cnt, zones, _, rest) => (cnt, zones, rest) }

  /** HYBRID fold: count, bounds (`mmCols`) and sums (`sumCols`) of the
    * vouched cells — ONE classification for both families, so a caller
    * combining them never double-counts a cell — plus a scan covering
    * exactly the rest (None when every selected cell vouched). The caller
    * aggregates the scan and combines. One upsert dirtying ONE cell of a
    * 10k-cell table then scans 1 cell, not 10k. None when nothing vouched.
    */
  def metaHybrid(mmCols: Seq[String], sumCols: Seq[String],
      cellFilter: PartKey => Boolean = _ => true)
      : Option[(Long, Map[String, Zone], Map[String, ColSum], Option[DataFrame])] =
    fold(Seq(StatFamily.Zones -> mmCols, StatFamily.Sums -> sumCols),
        cellFilter = cellFilter, hybrid = true).flatMap { f =>
      for ((cnt, zones) <- f.whole.zones(mmCols); (_, sums) <- f.whole.sums(sumCols))
        yield (cnt, zones, sums, f.rest)
    }

  /** [[metaStatsPartial]] per partition group. */
  def metaStatsGroupedPartial(groupCols: Seq[String], cols: Seq[String])
      : Option[(Seq[(Seq[Any], Long, Map[String, Zone])], Option[DataFrame])] =
    metaHybridGrouped(groupCols, cols, Nil).map { case (groups, rest) =>
      (groups.map { case (vals, cnt, zones, _) => (vals, cnt, zones) }, rest)
    }

  /** [[metaHybrid]] per partition group: the vouched cells fold per group,
    * and the caller runs the matching grouped aggregation over the rest
    * scan and merges group-wise — groups whose cells all vouched never
    * scan.
    */
  def metaHybridGrouped(groupCols: Seq[String], mmCols: Seq[String],
      sumCols: Seq[String], cellFilter: PartKey => Boolean = _ => true)
      : Option[(Seq[(Seq[Any], Long, Map[String, Zone], Map[String, ColSum])],
          Option[DataFrame])] =
    fold(Seq(StatFamily.Zones -> mmCols, StatFamily.Sums -> sumCols), Some(groupCols),
        cellFilter, hybrid = true).flatMap { f =>
      f.each(g => for ((cnt, zones) <- g.zones(mmCols); (_, sums) <- g.sums(sumCols))
        yield (cnt, zones, sums))
        .map(gs => (gs.map { case (vals, (cnt, zones, sums)) => (vals, cnt, zones, sums) }, f.rest))
    }

  /** One DataFrame over exactly `kept`'s rows — the multi-path single scan
    * when the kept set is disk-resident with one schema (at batches×buckets
    * cells, planning a view union costs more driver time than the pruned
    * read itself), else a view union. Unlike [[assembleKept]] there is no
    * most-parts-kept → whole-table shortcut: the caller needs EXACTLY these
    * parts' rows.
    */
  private def assembleSubset(kept: List[(PartKey, LakePart)]): DataFrame =
    if (kept.isEmpty) emptyLike
    else {
      val dirs = kept.map { case (k, _) => diskDirs.get(k) }
      if (storage.isDefined && dirs.forall(_ != null) && uniformSchema(kept))
        multiPathScan(dirs)
      else unionViews(kept.map(_._2.view))
    }

  /** Zone-seeded top-k: the k extreme rows by `c` (desc by default, with
    * optional deterministic tie-break columns), reading only the cells whose
    * zone interval can reach the k-th value. NULL `c` rows are excluded by
    * definition (`WHERE c IS NOT NULL ORDER BY c ... LIMIT k`).
    *
    * Two phases, both tiny:
    *  1. SEED — scan the few cells whose zones sit at the extreme (ordered
    *     by min desc for desc / max asc for asc, taking cells until their
    *     exact row counters cover k) with ORDER BY + LIMIT k, collecting k
    *     values of `c` only. The observed k-th value `t` is a certified
    *     lower bound on the global k-th value: ≥k real rows are ≥ t.
    *  2. PRUNE + FINAL — keep only cells whose zone overlaps [t, +inf)
    *     (inclusive — a tie at exactly t may still win on tie-break) plus
    *     cells with no zone for `c` (unknown never prunes), and run the
    *     ordered limit over that subset.
    *
    * The 100 TB shape: "latest N events" over a 10k-cell time-partitioned
    * table seeds from the newest cell and prunes the other 9,999 — Spark's
    * own TakeOrderedAndProject still scans every file. Falls back to the
    * plain full ordered limit whenever the seed cannot certify (no tight
    * counters at the extreme, fewer than k observed rows, no zones).
    */
  def topK(c: String, k: Int, asc: Boolean = false,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(k > 0, "topK needs k > 0")
    val sortCols = (col(c) :: tieBreak.toList.map(col)).map(x => if (asc) x.asc else x.desc)
    def fullSort(df: DataFrame): DataFrame =
      df.filter(col(c).isNotNull).sort(sortCols: _*).limit(k)
    val all = this.synchronized { parts.asScala.toList }
    if (all.isEmpty) return fullSort(toDF)
    // Extreme-first cell order; a cell with no zone for `c` cannot seed
    // (its bounds are unknown) and never prunes.
    def zoneOf(p: LakePart): Option[Zone] = p.zones.flatMap(_.get(c))
    val zoned = all.flatMap { case (key, p) =>
      zoneOf(p).flatMap(z => (if (asc) z.max else z.min).map(b => (key, p, b, z)))
    }
    if (zoned.isEmpty) return fullSort(toDF)
    val ordered = zoned.sortBy(_._3)(
      (if (asc) Ordering.fromLessThan[Any]((a, b) => ZoneMap.cmp(a, b).exists(_ < 0))
       else Ordering.fromLessThan[Any]((a, b) => ZoneMap.cmp(a, b).exists(_ > 0))))
    // Seed prefix: exact (tight) counters only — a stale counter could
    // overstate coverage and certify a too-high threshold (over-pruning,
    // the one unsound direction). Nulls in `c` could eat into a counter,
    // so the seed only counts cells whose zone covers every row (rows with
    // NULL c are invisible to zones — accept the cell's counter only as an
    // upper bound and verify with the OBSERVED row count in phase 1).
    var cover = 0L
    val seed = ordered.takeWhile { case (_, p, _, _) =>
      val take = cover < k
      if (take && p.vouched) cover += p.rows.get
      take
    }
    if (cover < k || seed.size > math.max(4, all.size / 8))
      return fullSort(toDF) // seed can't certify cheaply — one plain sort
    val seedDf = assembleSubset(seed.map(s => (s._1, s._2)))
    val observed = seedDf.filter(col(c).isNotNull)
      .sort(sortCols: _*).limit(k).select(col(c)).collect()
    if (observed.length < k) return fullSort(toDF) // NULLs ate the counter
    val t = observed.last.get(0)
    val qZone = if (asc) Zone(None, Option(t)) else Zone(Option(t), None)
    val kept = all.filter { case (_, p) => zoneOf(p).forall(_.overlaps(qZone)) }
    fullSort(assembleSubset(kept))
  }

  def schemaInfo: (List[(String, String)], Long, Int) = {
    val sample = parts.values().asScala.headOption
      .getOrElse(throw new IllegalStateException("dataset has no parts"))
    val cols = sample.df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toList
    (cols, rowsCount, numParts)
  }

  // ---------------------------------------------------------- mutation paths

  /** Split an incoming DataFrame into per-(partition,bucket) slices.
    *
    * One pass collects the distinct cell keys (tiny: bounded by the number of
    * cells, not rows); the incoming frame is cached so each slice filter
    * reuses the same scan, then every slice is snapshotted via
    * `localCheckpoint` — the incoming batch may be ephemeral (a streaming
    * micro-batch), so the routed slices must not keep a live plan reference
    * to it. Mirrors the reference's eager `Dataset::from_dataframe` split
    * (src/dataset.rs:196-238). Each returned slice carries its row count.
    */
  /** Apply audit stamps (when configured) to an incoming batch. */
  private def stamped(df0: DataFrame): DataFrame = auditClock match {
    case Some(clock) =>
      df0.withColumn(LakeDataset.CreatedAtCol, clock())
        .withColumn(LakeDataset.ChangedAtCol, clock())
    case None => df0
  }

  /** True when a row's cell is a function of `keys`: every partition and
    * bucket column appears in the key set, so two rows with equal keys land
    * in the same cell and a merge/delete can never need to move a row
    * between cells. Per-cell routing is only correct under this condition —
    * otherwise a delta row carrying a NEW partition/bucket value for an
    * existing key would be inserted into its new cell while the old row
    * survives in the old one (a duplicate key).
    */
  private def cellStable(keys: Seq[String]): Boolean =
    (partitionCols ++ bucketCols).forall(keys.contains)

  /** Stamp audit columns and add the internal routing bucket id. */
  private def prepared(df0: DataFrame): DataFrame = withBucket(stamped(df0))

  /** `d` with its bucket id as column `name` (as is without buckets). */
  private def withBucket(d: DataFrame, name: String = LakeDataset.BucketCol): DataFrame =
    if (bucketCols.isEmpty) d
    else d.withColumn(name, Bucketing.bucketExprFor(d, bucketCols.head, nBuckets))

  private def cellKeyCols: List[String] = partitionCols ++
    (if (bucketCols.nonEmpty) List(LakeDataset.BucketCol) else Nil)

  /** Distinct cell keys + per-cell row counts and statistics of a prepared
    * batch — ONE aggregation pass, no materialization; null rows for the
    * single-cell case. Row layout: cell key columns, then the layout's
    * aggregates ([[StatLayout]]).
    */
  private def cellCountsOf(p: DataFrame): (Array[Row], StatLayout) = {
    val layout = statLayout(p.schema)
    if (cellKeyCols.isEmpty) (null, layout)
    else (p.groupBy(cellKeyCols.map(col): _*).agg(layout.aggs.head, layout.aggs.tail: _*)
      .collect(), layout)
  }

  private def splitByCell(df0: DataFrame)
      : (DataFrame, List[LakeDataset.Slice]) = {
    val p = prepared(df0)
    val (counts, layout) = cellCountsOf(p)
    splitPrepared(p, counts, layout)
  }

  /** Checkpoint a prepared batch and slice it per cell using precomputed
    * cell counts.
    *
    * ONE materialization of the whole incoming batch (also decouples the
    * routed slices from an ephemeral source, e.g. a streaming micro-batch);
    * slices are lazy filters over the snapshot — in-memory scans with the
    * cell predicate pushed into them. Returns the batch snapshot (sans
    * routing column) alongside the slices. Mirrors the reference's eager
    * `Dataset::from_dataframe` split (src/dataset.rs:196-238).
    */
  private def splitPrepared(p: DataFrame, cellCounts: Array[Row], layout: StatLayout)
      : (DataFrame, List[LakeDataset.Slice]) = {
    // Big batches spill to parquet like whole-table snapshots (the cell
    // counts give the size for free); partition-less datasets have no
    // pre-count and keep the checkpoint path.
    val snap =
      if (cellCounts == null) ckpt(p)
      else materializeSnapshot(p, cellCounts.map(_.getLong(cellKeyCols.length)).sum)
    val batch = snap.drop(LakeDataset.BucketCol)

    if (cellCounts == null) {
      // Single-cell dataset: count + every family in ONE aggregation job
      // over the snapshot.
      val (n, stats) = layout.of(snap)
      return (batch, List(LakeDataset.Slice(PartKey(Nil, None), snap, n, stats)))
    }

    val slices = cellCounts.toList.map { row =>
      val key = cellKeyOf(row)
      val (n, stats) = layout.decode(row, cellKeyCols.length)
      val cond = partitionCols.zipWithIndex.map { case (c, i) =>
        if (row.isNullAt(i)) snap(c).isNull
        else snap(c) === lit(row.get(i))
      } ++ key.bucketNr.map { b =>
        if (b == LakeDataset.NullBucket) snap(LakeDataset.BucketCol).isNull
        else snap(LakeDataset.BucketCol) === lit(b)
      }
      val slice = snap.filter(cond.reduce(_ && _)).drop(LakeDataset.BucketCol)
      LakeDataset.Slice(key, slice, n, stats)
    }
    (batch, slices)
  }

  /** Append: route each incoming slice to its cell; unseen keys create new
    * parts (reference `Dataset::insert`, src/dataset.rs:271-295).
    *
    * The batch split (the expensive Spark jobs) runs outside the dataset
    * monitor; the table read-modify-write — including the wasEmpty check and
    * clean-scan publication — holds it, so concurrent inserts/upserts/
    * compactions serialize instead of interleaving with parts.clear() or
    * double-publishing cleanScan.
    */
  def insert(df: DataFrame, save: Boolean = false): Unit = {
    enforceChecks(df, "insert batch")
    val (batch, slices) = splitByCell(df)
    this.synchronized {
      val wasEmpty = parts.isEmpty
      val prev = cleanScan
      markDirty()
      slices.foreach { s =>
        diskDirs.remove(s.key); diskSchemas.remove(s.key)
        parts.compute(s.key, (_, existing) =>
          if (existing == null) newPart(s.df, s.key, s.rows, s.stats)
          else { existing.insert(s.df, s.rows, s.stats); existing })
      }
      // The batch snapshot is exactly the union of its routed slices, merged
      // by name like LakePart.insert merges each slice.
      carryClean(prev)(_.unionByName(batch, allowMissingColumns = true))
      // Creating from one batch: every part slices the same snapshot, so the
      // snapshot itself IS the whole-table view — reads plan one scan.
      if (wasEmpty) {
        cleanScan = Some(batch)
        sinceCompact.set(0L)
      }
      retain(batch)
    }
    if (save) toStorage()
  }

  /** Merge on `keys`: per-cell outer-join-coalesce (reference
    * `Dataset::upsert`, src/dataset.rs:298-322). Cells untouched by the
    * incoming batch are not replanned at all.
    *
    * Path selection:
    *  - wide merges (touching at least half the cells) run as ONE global
    *    outer join: N per-cell joins each re-scan their source snapshot,
    *    costing N full scans, while the global join scans old + delta once
    *    and the rebuilt cells slice one fresh snapshot;
    *  - narrow merges keep the per-cell path so an incremental batch never
    *    replans untouched cells;
    *  - when the cell columns are NOT all contained in `keys`
    *    ([[cellStable]]), a delta row may move an existing key to a
    *    different cell — per-cell routing would then insert the row into its
    *    new cell while the old row survives in the old one (a duplicate
    *    key). A narrow merge in that regime first runs a cheap probe
    *    ([[hasMigratingKeys]]: the table projected to keys + cell columns,
    *    joined against the delta) and falls back to the global join only
    *    when a key actually migrates, so the common stable-cell-values case
    *    keeps its incremental cost.
    *
    * The pre-merge snapshot (`old`) is captured INSIDE the dataset monitor —
    * two concurrent upserts serialize, each seeing the other's completed
    * changes (no lost updates).
    */
  def upsert(df: DataFrame, keys: Seq[String], save: Boolean = false,
      checkKeys: Boolean = true): Unit = {
    // Duplicate source keys make the merge ambiguous — same ANSI-style
    // guard the SQL MERGE path applies, conf-gated for trusted feeds.
    // Callers that ALREADY probed this batch (SQL MERGE) pass
    // `checkKeys = false` so the batch is not aggregated twice.
    if (checkKeys)
      LakeDataset.requireUniqueSourceKeys(spark, df, keys, "upsert batch")
    val leftWins: Set[String] =
      if (auditClock.isDefined) Set(LakeDataset.CreatedAtCol) else Set.empty
    // One aggregation pass over the RAW batch yields the cell counts that
    // drive path selection — the batch is NOT materialized yet: the global
    // path feeds it straight into the merge join (its output materializes
    // immediately, so nothing retains a live reference to the source),
    // skipping a full batch write+read through the block store.
    enforceChecks(df, "upsert batch")
    val p = prepared(df)
    val (counts, layout) = cellCountsOf(p)
    val nCells = if (counts == null) 1 else counts.length
    this.synchronized {
      // Decide the path and capture the pre-merge snapshot BEFORE markDirty:
      // markDirty drops cleanScan, and rebuilding `old` from unionParts
      // instead costs one bucket-filtered scan of the snapshot PER CELL.
      val batchLazy = p.drop(LakeDataset.BucketCol)
      val wide = numParts > 0 && nCells >= math.max(2, numParts / 2)
      val global = wide ||
        (numParts > 0 && !cellStable(keys) && hasMigratingKeys(batchLazy, keys))
      val old = if (global) cleanScan.getOrElse(unionParts) else null
      markDirty()
      if (global) {
        val est = knownRowsEstimate match {
          case Long.MaxValue => Long.MaxValue
          case n => n + counts.map(_.getLong(cellKeyCols.length)).sum
        }
        val merged =
          materializeSnapshot(LakePart.upsertJoin(old, batchLazy, keys, leftWins), est)
        rebuildFromSnapshot(merged)
        retain(merged)
      } else {
        val (batch, slices) = splitPrepared(p, counts, layout)
        slices.foreach { s =>
          diskDirs.remove(s.key); diskSchemas.remove(s.key)
          parts.compute(s.key, (_, existing) =>
            // A cell the upsert CREATES holds only fresh rows — its routed
            // stats are exact.
            if (existing == null) newPart(s.df, s.key, s.rows, s.stats)
            else { existing.upsert(s.df, keys, s.rows, s.stats, leftWins = leftWins); existing })
        }
        retain(batch)
      }
    }
    maybeAutoAnalyze()
    if (save) toStorage()
  }

  /** Append a batch whose cells are all FRESH directories, in ONE write job.
    *
    * The insert-then-save path plans the batch twice (an in-memory snapshot
    * for the catalog, then a second job for the files) — for an incremental
    * index ingesting small batches the doubled fixed cost dominates the
    * batch itself. Here the routing aggregation computes the catalog stats
    * (counts, zones, blooms), the dynamic-partition write lays the cells
    * out exactly as [[toStorage]] would, and each written directory
    * registers as a DISK-BACKED part — no in-memory copy of the batch
    * survives the call, and reads plan multi-path file scans
    * ([[diskScan]]/[[assembleKept]]).
    *
    * Caller contract: every cell the batch routes to must be NEW (e.g. a
    * fresh `batch=N` partition value) — the append-mode write cannot merge
    * into an existing cell's directory, so colliding keys are refused, and
    * refused BEFORE any file is written: an append cannot be undone, so a
    * post-write refusal would leave the refused rows inside the existing
    * directory for every later disk-backed read. NULL bucket-key values are
    * likewise refused up front (the dynamic writer's null directory and the
    * catalog's sentinel cell disagree on the path) — route such batches
    * through [[insert]] instead.
    */
  def insertWritten(df: DataFrame): Unit = {
    val spec = storage.getOrElse(throw new IllegalStateException("no storage spec"))
    enforceChecks(df, "insertWritten batch")
    val p = prepared(df)
    val (counts, layout) = cellCountsOf(p)
    require(counts != null,
      "insertWritten needs a partitioned or bucketed layout (fresh cells)")
    require(!p.columns.contains("bucket") || bucketCols.isEmpty,
      "a data column named 'bucket' collides with the bucket directory layout")
    val nKey = cellKeyCols.length
    // Timestamp partition values render differently on the two sides of the
    // registration handshake (JDBC toString carries a trailing ".0"; the
    // writer's cast does not) — refuse BEFORE any file lands rather than
    // strand an appended directory the catalog can't name.
    partitionCols.foreach { c =>
      val dt = p.schema(c).dataType
      require(dt != org.apache.spark.sql.types.TimestampType &&
        dt != org.apache.spark.sql.types.TimestampNTZType,
        s"insertWritten cannot route timestamp partition column '$c' " +
          "(driver/writer value rendering diverges) — use insert(), or " +
          "partition by a date/string derivation of it")
    }
    // Derive and validate EVERY cell key before the write job touches disk.
    val keyed: Seq[(PartKey, Row)] = counts.toSeq.map { row =>
      require(bucketCols.isEmpty || !row.isNullAt(nKey - 1),
        "insertWritten cannot route NULL bucket-key values (writer null " +
          "directory != catalog sentinel cell) — use insert() for this batch")
      val key = cellKeyOf(row)
      require(!parts.containsKey(key),
        s"insertWritten cell $key already exists — append cannot merge it")
      key -> row
    }
    // An all-empty batch routes to zero cells: nothing to write, register,
    // or republish — skip the write job entirely (an incremental index
    // ingesting an all-duplicates batch hits this on every probe).
    if (keyed.isEmpty) return
    writeCells(p.withColumnRenamed(LakeDataset.BucketCol, "bucket"), spec, "append", spec.root)
    val target = org.apache.spark.sql.types.StructType(
      p.schema.fields.filterNot(_.name == LakeDataset.BucketCol))
    val fileSchema = org.apache.spark.sql.types.StructType(
      target.fields.filterNot(f => partitionCols.contains(f.name)))
    this.synchronized {
      markDirty()
      keyed.foreach { case (key, row) =>
        val partVals = key.partValues
        require(!parts.containsKey(key), // re-check under the monitor
          s"insertWritten cell $key raced a concurrent mutation")
        val dir = s"${spec.root}/${key.relPath}"
        require(Files.isDirectory(Paths.get(dir)),
          s"written cell directory missing: $dir (partition value escaping mismatch?)")
        // The files were written from `p` this call — their schema IS
        // fileSchema; passing it skips a per-cell footer/inference read
        // (32 cells × 2 tables of driver-side listing adds whole seconds).
        val raw = spark.read.schema(fileSchema).format(spec.format).load(dir)
        val restored = partVals.foldLeft(raw) { case (d, (k, v)) =>
          d.withColumn(k, lit(v).cast(target(k).dataType))
        }.select(target.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
        val (n, stats) = layout.decode(row, nKey)
        parts.put(key, newPart(restored, key, n, stats))
        diskDirs.put(key, dir)
        diskSchemas.put(key, target)
      }
    }
    writeManifest()
  }

  /** The table view a key probe scans: the clean scan when no mutation has
    * touched it since it was built; otherwise the union of ONLY the parts
    * whose key-column zones overlap the delta's key ranges (one tiny min/max
    * aggregation over the delta buys skipping entire parts from the probe
    * plan — at 10k parts the difference between a full-table probe and a
    * handful of scans). A view [[carryClean]] kept serves only when the
    * probe keeps most parts, as in [[assembleKept]]. Runs inside the
    * dataset monitor.
    */
  private def probeBase(delta: DataFrame, keys: Seq[String]): DataFrame = {
    if (sinceCompact.get == 0L && cleanScan.isDefined) return cleanScan.get
    val kept = probeKeptParts(delta, keys)
    cleanScan.filter(_ => kept.size * 2 > parts.size).getOrElse(unionViews(kept.map(_.view)))
  }

  /** The parts a key probe must scan for `delta`'s keys — both stat axes:
    *
    *  - ZONES: a key column whose delta [min,max] and part zone are BOTH
    *    known and disjoint proves no delta key lives in the part (one tiny
    *    min/max aggregation over the delta);
    *  - BLOOMS: for a bloom-tracked key column, the delta's DISTINCT values
    *    (collected only when ≤ [[LakeDataset.MaxBloomProbeKeys]] — a
    *    `distinct().limit(n+1)` early-terminating job) test against each
    *    part's planes driver-side; a part where NO delta key might be
    *    present is skipped. This is what range stats can never do for
    *    hash-scattered keys spanning every part's whole interval.
    *
    * Any unknown side keeps the part (fail open). An empty delta yields
    * empty zones which overlap nothing: the probe sees an empty frame and
    * reports no work. Runs inside the dataset monitor.
    */
  private[graft] def probeKeptParts(delta: DataFrame, keys: Seq[String]): List[LakePart] = {
    val zoneableKeys = keys.filter(k =>
      delta.columns.contains(k) && ZoneMap.zoneable(delta.schema(k).dataType))
    val deltaRanges: Map[String, Zone] =
      if (zoneableKeys.isEmpty) Map.empty
      else {
        val aggCols = ZoneMap.aggs(zoneableKeys)
        ZoneMap.fromRow(delta.agg(aggCols.head, aggCols.tail: _*).head(), 0, zoneableKeys)
      }
    val bloomHashes: Map[String, Seq[Seq[Long]]] = keys.iterator
      .filter(k => bloomCols.contains(k) && delta.columns.contains(k))
      .flatMap { k =>
        val dt = delta.schema(k).dataType
        val vals = delta.select(col(k)).filter(col(k).isNotNull).distinct()
          .limit(LakeDataset.MaxBloomProbeKeys + 1).collect()
        if (vals.length > LakeDataset.MaxBloomProbeKeys) None // too many: fail open
        else {
          val hs = vals.toSeq.flatMap(r => Bloom.hashesOf(r.get(0), dt))
          if (hs.length == vals.length) Some(k -> hs) else None
        }
      }.toMap
    parts.values().asScala.toList.filter { part =>
      part.zones.forall(zs =>
        deltaRanges.forall { case (c, dz) => zs.get(c).forall(_.overlaps(dz)) }) &&
      part.blooms.forall(bs =>
        bloomHashes.forall { case (c, hashes) =>
          bs.get(c).forall(b => hashes.exists(b.mightContainHashes))
        })
    }
  }

  /** Probe for cell-migrating keys: join the table (projected to keys + cell
    * columns — parquet column pruning makes this a key-index scan, not a
    * table scan) against the delta on `keys` and test whether any matched
    * key's partition values or bucket id differ null-safely. Must run inside
    * the dataset monitor (it reads the live part set).
    */
  private def hasMigratingKeys(batch: DataFrame, keys: Seq[String]): Boolean = {
    val old = probeBase(batch, keys)
    val cellCols = partitionCols ++
      (if (bucketCols.nonEmpty) List(LakeDataset.BucketCol) else Nil)
    def loc(d: DataFrame, tag: String): DataFrame =
      withBucket(d).select(keys.map(col) ++ cellCols.map(c => col(c).as(s"${tag}_$c")): _*)
    val moved = loc(old, "o").join(loc(batch, "d"), keys.toSeq)
      .filter(cellCols.map(c => !(col(s"o_$c") <=> col(s"d_$c"))).reduce(_ || _))
    !moved.isEmpty
  }

  /** Delete rows matching incoming keys — the reference's own TODO
    * (src/main.rs:31) implemented as left-anti joins. When the cell is a
    * function of the keys ([[cellStable]]) the key rows route directly to
    * the only cells that could hold them; otherwise the keys are first
    * LOCATED — driver-side from the catalog ([[keptByKeyTuples]]: bucket
    * ids + blooms + zones, zero jobs) when a key column carries a
    * membership axis and the key set collects under the cap, else by one
    * projected key+cell-column scan — and only the cells that may hold
    * them get an anti join; never a whole-table rebuild.
    */
  def delete(keysDf: DataFrame, keys: Seq[String]): List[PartKey] = {
    // Returns the touched cells so index-erasure callers can persist
    // exactly the rewritten directories WITHOUT a second locate probe —
    // the keysDf plan can be expensive (a recomputed signature pipeline),
    // and running it once here instead of again in cellsHolding halved
    // the measured erase cost.
    val touched = if (cellStable(keys)) {
      val (batch, slices) = splitByCell(keysDf)
      this.synchronized {
        markDirty()
        // Zones/blooms intentionally untouched: post-delete data is a
        // subset, so the existing stats stay a sound (if loose) superset.
        val hit = slices.flatMap { s =>
          Option(parts.get(s.key)).map { p =>
            diskDirs.remove(s.key); diskSchemas.remove(s.key)
            p.delete(s.df, keys)
            s.key
          }
        }
        retain(batch)
        hit.toList
      }
    } else {
      // Driver-resolved locate fast path: when any key column carries a
      // membership axis the catalog can check (bloom, bucket id, or a
      // partition column) and the distinct key tuples collect under
      // `spark.graft.lake.maxLocateKeys`, the touched set resolves from the
      // catalog with ZERO scan jobs ([[keptByKeyTuples]] — a sound
      // superset; sharp blooms make it the located set in practice) and the
      // anti joins run against a broadcast local relation instead of a
      // checkpointed key snapshot. The erase gates measured the old locate
      // at one projected whole-table scan per erase batch.
      val cap = spark.conf.get("spark.graft.lake.maxLocateKeys", "65536").toInt
      val membershipTracked = keys.exists(c =>
        bloomCols.contains(c) || bucketCols.headOption.contains(c) ||
          partitionCols.contains(c))
      val keyProj = keysDf.select(keys.map(col): _*).distinct()
      val collected: Option[Array[Row]] =
        if (!membershipTracked || cap <= 0 || parts.isEmpty) None
        else {
          val rows = keyProj.limit(cap + 1).collect()
          if (rows.length > cap) None else Some(rows)
        }
      collected match {
        case Some(rows) =>
          this.synchronized {
            if (parts.isEmpty || rows.isEmpty) Nil
            else {
              val kept = keptByKeyTuples(rows, keys, keyProj.schema)
              if (kept.isEmpty) Nil // provably no cell holds a key: no-op
              else {
                markDirty()
                val localKeys = spark.createDataFrame(
                  java.util.Arrays.asList(rows: _*), keyProj.schema)
                kept.map { case (key, p) =>
                  diskDirs.remove(key); diskSchemas.remove(key)
                  p.delete(localKeys, keys)
                  key
                }
              }
            }
          }
        case None =>
          val keyRows = ckpt(keyProj)
          this.synchronized {
            if (parts.isEmpty) Nil
            else {
              // locate BEFORE markDirty — the probe scans cleanScan when present
              val located = locateCells(keyRows, keys)
              markDirty()
              val hit = located.flatMap { key =>
                Option(parts.get(key)).map { p =>
                  diskDirs.remove(key); diskSchemas.remove(key)
                  p.delete(keyRows, keys)
                  key
                }
              }
              retain(keyRows)
              hit
            }
          }
      }
    }
    maybeAutoAnalyze()
    touched
  }

  /** Predicate delete — SQL `DELETE FROM t WHERE cond`, pruned to the cells
    * the predicate can touch. The predicate's conjuncts are mined for
    * catalog constraints ([[graft.plans.PredicateConstraints]]: partition
    * values, bucket ids, zone intervals, bloom membership); cells the
    * catalog PROVES predicate-free keep their plans — and their tight
    * statistics — completely untouched, so at 10k cells a range-scoped
    * DELETE rewrites a handful of cell plans, not the table. Returns the
    * number of cells touched.
    *
    * Rows where the predicate evaluates NULL survive (SQL semantics).
    * Touched cells' zones/blooms stay as sound supersets (post-delete data
    * is a subset); [[materialize]] recomputes them tight.
    */
  def deleteWhere(cond: Column): Int = this.synchronized {
    if (parts.isEmpty) return 0
    val names = tableSchema.fieldNames.toSet
    val (eqs, ranges, ins) = graft.plans.PredicateConstraints.of(
      resolvedPredicate(cond), names.contains)
    val all = parts.asScala.toList
    val touched =
      if (eqs.isEmpty && ranges.isEmpty && ins.isEmpty) all
      else keptBy(all, eqs, ranges, ins)
    if (touched.isEmpty) return 0
    val prev = cleanScan
    markDirty()
    touched.foreach { case (k, p) =>
      diskDirs.remove(k); diskSchemas.remove(k)
      p.deleteWhere(cond)
    }
    // The parts the catalog pruned hold no row where `cond` is true, so the
    // whole view filtered like a touched part is the union of the parts.
    carryClean(prev)(LakePart.survivors(_, cond))
    maybeAutoAnalyze()
    touched.size
  }

  /** Predicate update — SQL `UPDATE t SET ... WHERE cond`, pruned to the
    * cells the predicate can touch exactly like [[deleteWhere]]. SQL
    * semantics throughout: assignment right-hand sides see the OLD row,
    * FALSE/NULL-predicate rows are untouched. Assignments to partition or
    * bucket columns are rejected — an in-place cell rewrite cannot MOVE a
    * row between cells; a cell-migrating change is an upsert
    * ([[upsert]] handles key migration correctly). Row counts are
    * preserved, so count metadata stays exact; the ASSIGNED columns go
    * unknown in EVERY stat family (zones, blooms, sums, sketches with their
    * theta twins, quantiles, frequent items) until the next materialize or
    * ANALYZE. Returns cells touched.
    */
  def updateWhere(cond: Column, assignments: Seq[(String, Column)]): Int =
    this.synchronized {
      if (parts.isEmpty) return 0
      require(assignments.nonEmpty, "UPDATE with no assignments")
      val schema = tableSchema
      val bad = assignments.map(_._1).filterNot(schema.fieldNames.contains)
      require(bad.isEmpty, s"unknown column(s) in UPDATE: ${bad.mkString(", ")}")
      val moving = assignments.map(_._1)
        .filter(c => partitionCols.contains(c) || bucketCols.contains(c))
      require(moving.isEmpty,
        s"UPDATE cannot assign partition/bucket column(s) ${moving.mkString(", ")} " +
          "- rows would change cells; use upsert for cell-migrating changes")
      // SQL UPDATE casts each value to the COLUMN's type (`SET int_col =
      // 2.5` stores an int) — without this, LakePart's when/otherwise
      // coerces to the common type and silently widens the touched parts'
      // schema away from tableSchema.
      val typed = assignments.map { case (name, rhs) =>
        name -> rhs.cast(schema(schema.fieldIndex(name)).dataType)
      }
      // CHECK constraints validate the WOULD-BE rows before any part
      // mutates: one scan of the matching rows with the assignments
      // applied, only when constraints exist (zero cost otherwise).
      if (checksMap.nonEmpty) {
        val preview = typed.foldLeft(toDF.filter(cond)) {
          case (d, (n, c)) => d.withColumn(n, c)
        }
        enforceChecks(preview, "UPDATE result")
      }
      val names = schema.fieldNames.toSet
      val (eqs, ranges, ins) = graft.plans.PredicateConstraints.of(
        resolvedPredicate(cond), names.contains)
      val all = parts.asScala.toList
      val touched =
        if (eqs.isEmpty && ranges.isEmpty && ins.isEmpty) all
        else keptBy(all, eqs, ranges, ins)
      if (touched.isEmpty) return 0
      markDirty()
      touched.foreach { case (k, p) =>
        diskDirs.remove(k); diskSchemas.remove(k)
        p.updateWhere(cond, typed)
      }
      maybeAutoAnalyze()
      touched.size
    }

  /** Layout evolution — `ALTER TABLE ... PARTITIONED BY / BUCKETED BY` as
    * an engine operation: rebuild the CURRENT contents under a new
    * partition/bucket/bloom layout and return the new dataset. The table's
    * one full snapshot routes through the ordinary creation path (cell
    * split + tight stats), so the result prunes on the new axes and
    * answers metadata exactly, like any freshly created table. The storage
    * binding carries over; the next save rewrites the directory tree in
    * the new shape (layout changes are rewrites in every lakehouse — the
    * cost is one table pass, all-executor parallel). The receiver is left
    * untouched (its plans stay valid); callers swap references — the SQL
    * catalog's ALTER route re-registers the view.
    */
  def relayout(
      newPartitionCols: Seq[String] = Nil,
      newBucketCols: Seq[String] = Nil,
      newNBuckets: Int = 5,
      newBloomCols: Seq[String] = Nil,
      newSketchCols: Seq[String] = Nil): LakeDataset = {
    val schema = tableSchema
    val missing = (newPartitionCols ++ newBucketCols ++ newBloomCols ++ newSketchCols)
      .filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"unknown layout column(s): ${missing.mkString(", ")}")
    LakeDataset.fromDataFrame(spark, toDF,
      partitionCols = newPartitionCols, bucketCols = newBucketCols,
      nBuckets = newNBuckets, storage = storage, bloomCols = newBloomCols,
      sketchCols = newSketchCols)
  }

  /** The user's `Column` predicate as a RESOLVED, constant-folded Catalyst
    * expression against this table's schema. Spark 4 Columns carry node
    * trees (`UnresolvedFunction("&gt;=", ...)`), not Catalyst comparisons —
    * analyzing a filter over a zero-row frame of the table schema yields
    * the same resolved shapes the SQL path's rule sees (typed attributes,
    * coercion casts), and folding the foldable subtrees turns
    * `cast(300 as bigint)` back into the literal the constraint extractor
    * matches. Driver-only plan work; no job runs. Falls back to
    * `Literal(true)` (no constraints — touch everything, sound) when no
    * Filter materializes.
    */
  private def resolvedPredicate(cond: Column)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Expression => CExpr, Literal => CLit}
    val probe = spark.createDataFrame(new java.util.ArrayList[Row](), tableSchema)
      .filter(cond)
    probe.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.map(_.transformUp {
      // SQL-parsed sugar (`BETWEEN`, `nvl`, ...) survives analysis as
      // RuntimeReplaceable wrappers; only the optimizer unwraps them —
      // expand here so the extractor sees the comparison primitives.
      case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable =>
        r.replacement
    }.transformUp {
      // Replacements share subtrees via With/CommonExpressionRef (Spark's
      // dedup device, normally lowered late in optimization) — inline the
      // refs so plain comparisons remain.
      case w: org.apache.spark.sql.catalyst.expressions.With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transformUp {
          case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
            defs.getOrElse(r.id, r)
        }
    }.transformUp {
      // current_date()/current_timestamp() are foldable yet Unevaluable in
      // the ANALYZED plan (ComputeCurrentTime substitutes them later, in the
      // optimizer) — folding them throws. Leave such subtrees unfolded: the
      // constraint extractor then simply mines nothing from them, which is
      // the sound fail-open (touch every cell the rest of the predicate
      // allows); the predicate itself still EXECUTES correctly because the
      // per-part rewrite evaluates the original Column, not this probe.
      case e: CExpr if e.foldable && !e.isInstanceOf[CLit] =>
        try CLit.create(e.eval(org.apache.spark.sql.catalyst.InternalRow.empty), e.dataType)
        catch { case scala.util.control.NonFatal(_) => e }
    }).getOrElse(CLit(true))
  }

  /** Driver-resolved locate for [[delete]]: the touched-cell SUPERSET of a
    * collected key-tuple set, resolved from the CATALOG alone — partition
    * values, bucket ids, zone intervals and Bloom membership per tuple (the
    * multi-column generalization of [[prunedByLongKeys]]'s kept set). A part
    * survives when ANY tuple may live in it on EVERY axis; unknown stats
    * fail open (kept), so the result is always a sound superset of the
    * exactly-located set — a false positive costs one needless (identical)
    * cell rewrite, never a missed delete. Zero Spark jobs, zero I/O: the
    * locate probe this replaces was a projected key+cell-column scan of the
    * whole table per erase batch — at 100 TB, erase cost ∝ corpus instead
    * of ∝ touched cells. Tuples with a null component are skipped (the
    * delete's anti join is null-unsafe equality: they remove nothing).
    * Runs inside the dataset monitor.
    */
  private def keptByKeyTuples(
      rows: Array[Row], keys: Seq[String],
      schema: org.apache.spark.sql.types.StructType): List[(PartKey, LakePart)] = {
    val all = parts.asScala.toList
    val ki = keys.toArray
    val nk = ki.length
    val dts = ki.map(c => schema(c).dataType)
    val isPartCol = ki.map(partitionCols.contains)
    val isBucketCol = ki.map(c => bucketCols.headOption.contains(c))
    val isBloomCol = ki.map(bloomCols.contains)
    val live = rows.indices.filter(r => (0 until nk).forall(i => !rows(r).isNullAt(i))).toArray
    // Everything literal-derived precomputes once per (column, tuple), not
    // per part: rendered partition values, local bucket ids, Bloom plane
    // hashes.
    val strs = Array.tabulate(nk)(i => rows.map(r => String.valueOf(r.get(i))))
    val bucketIds: Array[Array[Option[Int]]] = Array.tabulate(nk)(i =>
      if (!isBucketCol(i)) null
      else rows.map(r => Bucketing.localBucketId(r.get(i), dts(i), nBuckets)))
    val hashes: Array[Array[Option[Seq[Long]]]] = Array.tabulate(nk)(i =>
      if (!isBloomCol(i)) null
      else rows.map(r => Bloom.hashesOf(r.get(i), dts(i))))
    all.filter { case (key, part) =>
      live.exists { r =>
        (0 until nk).forall { i =>
          (!isPartCol(i) ||
            key.partValues.forall { case (kc, kv) => kc != ki(i) || kv == strs(i)(r) }) &&
          (!isBucketCol(i) ||
            bucketIds(i)(r).forall(b => key.bucketNr.forall(_ == b))) &&
          part.zones.forall(_.get(ki(i)).forall(_.mayContain(rows(r).get(i)))) &&
          (!isBloomCol(i) || hashes(i)(r).isEmpty ||
            part.blooms.forall(bs =>
              bs.get(ki(i)).forall(_.mightContainHashes(hashes(i)(r).get))))
        }
      }
    }
  }

  /** Which cells currently hold any of the given keys: the table projected
    * to keys + cell columns, semi-joined against the key rows, grouped by
    * cell. Runs inside the dataset monitor.
    */
  /** The cells a key-set mutation would touch — the pruning probe behind
    * [[delete]]/[[upsert]] routing, exposed for index-maintenance callers
    * that must persist exactly the rewritten cells (an inverted-index
    * erasure rewrites the bucket directories that held the doomed keys,
    * and only those).
    */
  def cellsHolding(keyRows: DataFrame, keys: Seq[String]): List[PartKey] =
    locateCells(keyRows, keys)

  private def locateCells(keyRows: DataFrame, keys: Seq[String]): List[PartKey] = {
    if (cellKeyCols.isEmpty) return List(PartKey(Nil, None))
    withBucket(probeBase(keyRows, keys)).join(keyRows, keys.toSeq, "left_semi")
      .select(cellKeyCols.map(col): _*).distinct().collect().toList.map(cellKeyOf)
  }

  /** Materialize every part (reference `Dataset::collect` + RPC
    * MaterializeTable, src/dataset.rs:260-269, src/server.rs:192-208).
    * Parts materialize concurrently — the reference's rayon `par_iter`
    * re-expressed as concurrent Spark jobs over the shared executor pool.
    */
  def materialize(): Unit = this.synchronized {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = LakeDataset.ioPool
    parts.values().asScala.toList
      .map(p => Future(p.materialize()))
      .foreach(Await.result(_, Duration.Inf))
  }

  /** Selective compaction — materialize ONLY the cells `cond` can touch,
    * pruned through the same catalog machinery as [[deleteWhere]]
    * (partition values, bucket ids, zones, blooms, per-value IN). The
    * 100 TB move: compacting a petabyte table means compacting the hot
    * partitions a mutation stream actually churned, not rewriting every
    * cell — untouched cells keep their plans, stats, and files. A part the
    * predicate selects but that has no pending mutations is a no-op (the
    * per-part guard already skips clean parts). Returns cells compacted.
    */
  def materializeWhere(cond: Column): Int = this.synchronized {
    if (parts.isEmpty) return 0
    val names = tableSchema.fieldNames.toSet
    val (eqs, ranges, ins) = graft.plans.PredicateConstraints.of(
      resolvedPredicate(cond), names.contains)
    val all = parts.asScala.toList
    val touched =
      if (eqs.isEmpty && ranges.isEmpty && ins.isEmpty) all
      else keptBy(all, eqs, ranges, ins)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = LakeDataset.ioPool
    touched.map(p => Future(p._2.materialize()))
      .foreach(Await.result(_, Duration.Inf))
    touched.size
  }

  // ----------------------------------------------------------------- storage

  /** True when any live plan (clean scan or a part's frame) reads files
    * under `rootDir` — i.e. the dataset was lazily loaded from the same root
    * it is about to overwrite.
    */
  private def dfReadsUnder(d: DataFrame, rootDir: String): Boolean = {
    val rootPath = Paths.get(rootDir).toAbsolutePath.normalize.toString
    Bridge.scanRootPaths(d).exists { p =>
      val norm = p.stripPrefix("file:")
      norm == rootPath || norm.startsWith(rootPath + "/")
    }
  }

  private def backedByRoot(rootDir: String): Boolean =
    cleanScan.exists(dfReadsUnder(_, rootDir)) ||
      parts.values().asScala.exists(p => dfReadsUnder(p.df, rootDir))

  /** VACUUM for the storage root: delete physical cell directories the
    * catalog no longer references — leftovers of crashed dynamic writes,
    * cells dropped by delete/checkpoint, or junk a foreign writer parked
    * under the root. Without this, the next [[LakeDataset.fromStorage]]
    * would WALK those directories back into the table (discovery trusts
    * the layout), so orphan hygiene is a correctness matter for any
    * crash-recovery story, not just a space matter. Returns the deleted
    * root-relative paths.
    *
    * Contract (the standard VACUUM trade): call on a quiesced table whose
    * catalog reflects storage — right after [[toStorage]] or on a freshly
    * loaded table. Concurrent lazy plans over dropped cells would read a
    * hole, exactly as in any lakehouse VACUUM.
    */
  def vacuumOrphans(): List[String] = this.synchronized {
    val spec = storage.getOrElse(throw new IllegalStateException("no storage spec"))
    val rootP = Paths.get(spec.root)
    if (!Files.isDirectory(rootP)) return Nil
    // The catalog key → on-disk directory mapping: partition values use
    // Spark's writer escaping (PartKey.escape), the NULL bucket sentinel
    // lands in Hive's default-partition directory.
    val live: Set[String] = parts.keySet().asScala.map { key =>
      val segs = key.partValues.map { case (k, v) => s"$k=${PartKey.escape(v)}" } ++
        key.bucketNr.map { b =>
          "bucket=" + (if (b == LakeDataset.NullBucket) PartKey.NullMarker else b.toString)
        }.toList
      segs.mkString("/")
    }.toSet
    val orphans = LakeDataset.discoverLeafDirs(rootP).filter { dir =>
      !live.contains(rootP.relativize(dir).toString)
    }
    orphans.foreach(LakeDataset.deleteRecursively)
    orphans.map(d => rootP.relativize(d).toString)
  }

  /** The cell directory columns, sorted like PartKey.relPath: the dynamic
    * writer nests directories in partitionBy ORDER.
    */
  private val dirCols: List[String] =
    partitionCols.sorted ++ (if (bucketCols.nonEmpty) List("bucket") else Nil)

  /** Write `df` (holding the [[dirCols]]) as one directory per cell under
    * `path`, with ONE writer task and file per cell: otherwise every input
    * partition opens a file in every cell it touches (32 partitions × 32
    * buckets wrote ~1000 tiny files, 4.2 s → sub-second on a 4k-row batch).
    */
  private def writeCells(df: DataFrame, spec: StorageSpec, mode: String, path: String,
      perCell: Boolean = true): Unit =
    (if (perCell) df.repartition(dirCols.map(col): _*) else df)
      .write.mode(mode).format(spec.format)
      .option("compression", spec.compression)
      .partitionBy(dirCols: _*)
      .save(path)

  /** Persist: wipe root, write the whole table, then manifest.json
    * (reference `Dataset::to_storage`, src/dataset.rs:330-353, saves
    * part-by-part; past a few small cells we hand the whole layout to one
    * `partitionBy` job instead — [[writeCells]]). Partition and bucket
    * columns live in the directory names, not the data files; the loader
    * restores them (with manifest-DDL types), and the reloaded whole-table
    * scan gets NATIVE Hive partition pruning from the layout.
    */
  def toStorage(): Unit = {
    requireNotInTransaction("toStorage")
    val spec = storage.getOrElse(throw new IllegalStateException("no storage spec"))
    // A lazily loaded dataset's plans read the files this save is about to
    // delete — wiping first would make the write job scan a hole (a
    // load-then-save round trip silently losing the table). Materialize the
    // union into the snapshot store/spill dir (NOT under the root) and
    // rebuild parts over it, so nothing references the root before the wipe.
    // Commit-token check BEFORE the destructive wipe: overwriting a root
    // a concurrent writer has committed to since we engaged it is exactly
    // the lost update the protocol exists to stop. A fresh handle adopts
    // the on-disk version first so the counter stays monotonic across the
    // wipe (a replace is still a commit in the root's history).
    checkCommitToken(spec)
    if (committedVersion.get < 0L) committedVersion.set(onDiskVersion(spec))
    if (!parts.isEmpty && backedByRoot(spec.root)) compact()
    LakeDataset.deleteRecursively(Paths.get(spec.root))
    if (parts.isEmpty) {
      // Manifest-only layout; keep the schema (from the clean scan an empty
      // insert published) so fromStorage can rebuild the empty table.
      val emptyDdl = cleanScan.map(_.schema.toDDL)
      commitManifest(spec)(v =>
        Manifest(partitionCols, bucketCols, nBuckets, spec, emptyDdl,
          bloomCols = bloomCols, sketchCols = sketchCols,
          checks = checksMap, version = v))
      return
    }
    val ddl = parts.values().asScala.headOption.map(_.df.schema.toDDL)
    val df = toDF
    if (dirCols.isEmpty) {
      df.write.mode("overwrite").format(spec.format)
        .option("compression", spec.compression).save(spec.root)
    } else if (numParts <= LakeDataset.OnePassSaveCells &&
        knownRowsEstimate <= LakeDataset.SpillSnapshotRows) {
      // Few cells AND small data: concurrent per-part write jobs (the
      // reference's rayon-parallel save, src/dataset.rs:342-348, as
      // concurrent Spark jobs) avoid the per-task partition sort of the
      // dynamic writer. Each per-part job re-scans its source snapshot, so
      // for big tables (or many cells) the one-pass writer below wins even
      // with the sort.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = LakeDataset.ioPool
      val jobs = parts.values().asScala.toList
        .map(p => Future(p.save(spec, dropCols = partitionCols)))
      jobs.foreach(Await.result(_, Duration.Inf))
    } else {
      // Many cells, big data or unknown counts: ONE job over toDF (the clean
      // scan when set, else the union of the parts) — 10k cells as 10k
      // driver-scheduled jobs would serialize on the driver. One writer task
      // per cell only up to SpillSnapshotRows: shuffling tens of millions of
      // rows into one task per cell is unmeasured.
      require(!df.columns.contains("bucket") || bucketCols.isEmpty,
        "a data column named 'bucket' collides with the bucket directory layout")
      writeCells(withBucket(df, "bucket"), spec, "overwrite", spec.root,
        perCell = rowsEstimate(atMost = true) <= LakeDataset.SpillSnapshotRows)
    }
    commitManifest(spec)(v => fullManifest(spec, ddl, v))
    // Every cell's directory now mirrors its content exactly. PartKey.escape
    // IS Spark's escapePathName, so the writer's directory and relPath agree
    // by construction; the existence check stays as a backstop (a mismatch
    // must degrade to "not disk-backed", never to a read of a missing path).
    parts.keySet().asScala.foreach { k =>
      val dir = s"${spec.root}/${k.relPath}"
      if (Files.isDirectory(Paths.get(dir))) diskDirs.put(k, dir)
    }
  }

  /** Before a save rewrites cells in place: a clean scan over the root's
    * files (a load's or [[diskScan]]'s, carried through an insert or a
    * [[deleteWhere]]) would read the replaced files afterwards.
    */
  private def retireRootScan(spec: StorageSpec): Unit = this.synchronized {
    if (cleanScan.exists(dfReadsUnder(_, spec.root))) cleanScan = None
  }

  /** Incremental save of a single cell — at scale you save the cells an
    * ingest touched, not the world. The manifest rewrites too, so its
    * per-part stats stay in sync with the refreshed files (a stale zone on
    * disk would be an UNSOUND zone on the next load).
    */
  def savePart(key: PartKey): Unit = saveParts(Seq(key))

  /** Incremental save of SEVERAL cells: concurrent per-part write jobs (the
    * same ioPool fan-out as [[toStorage]]'s few-cells path) and ONE manifest
    * rewrite at the end — [[savePart]] in a loop would rewrite the manifest
    * once per cell, and a bucketed ingest touches nBuckets cells per batch.
    */
  def saveParts(keys: Seq[PartKey]): Unit = {
    requireNotInTransaction("saveParts")
    val spec = storage.getOrElse(throw new IllegalStateException("no storage spec"))
    retireRootScan(spec)
    val ps = keys.flatMap(k => Option(parts.get(k)))
    if (ps.isEmpty) return
    if (ps.size >= LakeDataset.OnePassSaveMinCells && onePassRewrite(spec, ps)) ()
    else perPartSave(spec, ps)
    val ddl = parts.values().asScala.headOption.map(_.df.schema.toDDL)
    commitManifest(spec)(v => fullManifest(spec, ddl, v))
  }

  /** The classic per-cell save: one (materialize-if-self-reading +
    * overwrite) job pair per cell, concurrent over [[LakeDataset.ioPool]].
    * Right for a handful of large cells; from
    * [[LakeDataset.OnePassSaveMinCells]] cells the fixed two-jobs-per-cell
    * cost dominates and [[onePassRewrite]] takes over.
    */
  private def perPartSave(spec: StorageSpec, ps: Seq[LakePart]): Unit = {
    // Lazily loaded parts read the directories the overwrite deletes first.
    ps.foreach(p => if (dfReadsUnder(p.df, spec.root)) p.materialize())
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = LakeDataset.ioPool
    ps.map(p => Future(p.save(spec, dropCols = partitionCols)))
      .foreach(Await.result(_, Duration.Inf))
    ps.foreach { p =>
      diskDirs.put(p.key, s"${spec.root}/${p.key.relPath}")
      diskSchemas.put(p.key, p.df.schema)
    }
  }

  /** ONE dynamic-partitioned write job rewrites every touched cell through
    * a staging directory, then each staged leaf swaps over its live
    * directory and the part's plan REPOINTS to the fresh files. Replaces N
    * (materialize + overwrite) job pairs with one job + O(N) renames — the
    * index-erasure paths measured 12 s of per-cell job overhead at ~47
    * touched cells; this is their scale shape (cost ∝ rows rewritten, one
    * scheduler round trip). The staged union reads the LIVE files (staging
    * is a sibling `_staging_*` tree the leaf discovery ignores), so no
    * pre-materialize is needed; a crash mid-swap leaves the underscore-
    * prefixed staging dir that loads skip and the next save deletes.
    *
    * Returns false (having written nothing) for shapes whose directory
    * rendering could diverge from `PartKey.relPath` — timestamp partition
    * values (the insertWritten contract), an un-partitioned un-bucketed
    * table, or a staged leaf set that fails the 1:1 mapping check — and
    * the caller falls back to the per-part path.
    */
  private def onePassRewrite(spec: StorageSpec, ps: Seq[LakePart]): Boolean = {
    import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
    val renderSafe = dirCols.nonEmpty && partitionCols.forall { c =>
      val dt = tableSchema(c).dataType
      dt != TimestampType && dt != TimestampNTZType
    }
    if (!renderSafe) return false
    val staged = unionViews(ps.toList.map { p =>
      p.key.bucketNr match {
        case Some(b) => p.view.withColumn("bucket",
          if (b == LakeDataset.NullBucket) lit(null).cast("int") else lit(b))
        case None => p.view
      }
    })
    val stagingRoot =
      s"${spec.root}/_staging_${java.util.UUID.randomUUID().toString.take(8)}"
    writeCells(staged, spec, "overwrite", stagingRoot)
    // Verify the 1:1 leaf mapping BEFORE destroying anything: every staged
    // leaf must be an expected cell (a value-rendering mismatch aborts to
    // the safe path); an expected cell MISSING from staging is a
    // legitimately empty cell (zero surviving rows).
    val expected = ps.map(_.key.relPath).toSet
    val stagedLeafs = LakeDataset.discoverLeafDirs(Paths.get(stagingRoot))
      .map(d => Paths.get(stagingRoot).relativize(d).toString).toSet
    if (!stagedLeafs.subsetOf(expected)) {
      LakeDataset.deleteRecursively(Paths.get(stagingRoot))
      return false
    }
    ps.foreach { p =>
      val live = Paths.get(s"${spec.root}/${p.key.relPath}")
      val from = Paths.get(s"$stagingRoot/${p.key.relPath}")
      LakeDataset.deleteRecursively(live)
      Files.createDirectories(live.getParent)
      if (Files.isDirectory(from)) Files.move(from, live)
      else Files.createDirectories(live) // empty cell: zero surviving rows
      val full = p.df.schema
      val fileSchema = StructType(
        full.fields.filterNot(f => partitionCols.contains(f.name)))
      val raw = spark.read.schema(fileSchema).format(spec.format)
        .load(live.toString)
      val fresh = p.key.partValues
        .foldLeft(raw) { case (d, (k, v)) =>
          d.withColumn(k, lit(v).cast(full(k).dataType))
        }
        .select(full.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      p.repoint(fresh)
      diskDirs.put(p.key, live.toString)
      diskSchemas.put(p.key, full)
    }
    LakeDataset.deleteRecursively(Paths.get(stagingRoot))
    // ONE grouped MEMBERSHIP recount over the fresh cells: exact row counts
    // and tight blooms for the bloom-tracked columns. Without it every
    // later driver-side membership probe (keptByKeyTuples /
    // prunedByLongKeys) keeps matching deleted keys' stale bloom bits, so
    // repeated erases rewrite cells that provably hold nothing. The agg
    // reads ONLY the bloom columns (parquet column pruning), one job for
    // all N rewritten cells; a full-width tight recount (zones, sums,
    // sketches) was measured as a ~20% regression on the erasure gates and
    // is deliberately NOT done — loose supersets stay sound.
    if (bloomCols.nonEmpty && uniformSchema(ps.map(p => (p.key, p)).toList)) {
      val schema = ps.head.df.schema
      val bc = StatFamily.Blooms.cols(this, schema)
      if (bc.nonEmpty) {
        val layout = StatLayout(schema, Seq(StatFamily.Blooms -> bc))
        val tagged = ps.zipWithIndex.map { case (p, i) =>
          p.df.select(bc.map(col) :+ lit(i).as("__graft_recount_cell"): _*)
        }.reduce(_ unionByName _)
        // groupBy output layout: [cell tag, count, planes in bc order]
        val byIdx = tagged.groupBy("__graft_recount_cell")
          .agg(layout.aggs.head, layout.aggs.tail: _*)
          .collect().map(r => r.getInt(0) -> r).toMap
        ps.zipWithIndex.foreach { case (p, i) =>
          byIdx.get(i) match {
            case Some(r) => val (n, st) = layout.decode(r, 1); p.adoptStats(n, st)
            case None => // zero surviving rows: all-zero planes prove absence
              p.adoptStats(0L, PartStats(Seq(StatFamily.Blooms -> bc.map(_ -> Bloom.empty).toMap)))
          }
        }
      }
    }
    true
  }
}

object LakeDataset {

  /** Snapshot reliability mode (`spark.graft.snapshot.mode`):
    *
    *  - `local` (default): small snapshots use `localCheckpoint`, which pins
    *    blocks in THIS executor set — fast, but lost on executor death and
    *    meaningless with dynamic allocation;
    *  - `reliable`: every snapshot (whole-table, batch, per-part compaction)
    *    spills to parquet under the dataset's spill directory instead, and
    *    [[shareScan]] shares nothing. Point `spark.graft.snapshot.dir` at
    *    cluster scratch space (HDFS/S3) and compaction state survives any
    *    executor: the cluster-mode setting.
    *
    * Read per call, so tests and sessions can flip it between lifecycles.
    */
  def reliableSnapshots(spark: SparkSession): Boolean =
    spark.conf.get("spark.graft.snapshot.mode", "local") == "reliable"

  /** Share ONE evaluation of `df` between the consumers of a single call:
    * a LAZY local checkpoint materializes its partitions as a side effect
    * of the first action over it, and every later scan reads raw
    * block-manager rows instead of re-running the plan. Clusters that
    * cannot pin executor blocks run in reliable snapshot mode, where `df`
    * comes back unchanged and each consumer pays its own rescan.
    */
  def shareScan(df: DataFrame): DataFrame =
    if (reliableSnapshots(df.sparkSession)) df else df.localCheckpoint(false)

  /** Per-cell fingerprint of a manifest's statistics entries — the commit
    * protocol's change detector ([[LakeDataset.rebaseCommit]]): a cell's
    * fingerprint moves iff any of its seven stat-family entries changed
    * (value, presence, or tightness-presence), so diffing two manifests'
    * fingerprint maps yields exactly the cells a writer changed between
    * them. MD5 over a deterministic serialization (sorted column order,
    * field separator) — collision-safe at any realistic cell count.
    */
  private[lake] def statFingerprints(m: Manifest): Map[String, String] = {
    val fields = StatFamily.all.map(_.field(m))
    val keys = fields.foldLeft(m.partRows.keySet)(_ ++ _.keySet)
    keys.iterator.map { p =>
      val sb = new StringBuilder
      def add(x: Any): Unit = { sb.append(x); sb.append('\u0001') }
      add(m.partRows.get(p))
      fields.foreach(f => add(f.get(p).map(_.toList.sortBy(_._1))))
      val md = java.security.MessageDigest.getInstance("MD5")
      p -> md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }.toMap
  }

  /** One routed cell of an incoming batch: key, lazy slice, row count, and
    * the cell's stats from the routing aggregation.
    */
  private[lake] final case class Slice(key: PartKey, df: DataFrame, rows: Long, stats: PartStats)

  /** Internal bucket-id column, dropped before any user-visible output
    * (reference `$bucket`, src/dataset.rs:200-204).
    */
  val BucketCol = "__graft_bucket"

  /** Monotonic creation rank — THE global lock order for multi-dataset
    * operations ([[graft.lake.Database.transaction]]). Sorting by catalog
    * NAME is not a global order when two names alias one dataset or two
    * databases name the same datasets differently; creation rank is total
    * and identity-stable, so transactions can never acquire two dataset
    * monitors in opposite orders.
    */
  private val rankCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private[lake] def nextRank(): Long = rankCounter.getAndIncrement()

  /** Sentinel bucket id for rows whose bucket column value hashes to NULL
    * (null numeric/temporal values). Such rows live in a dedicated cell per
    * partition whose view filters on `bucketExpr IS NULL`, mirroring the
    * null-partition-value cells.
    */
  val NullBucket: Int = -1

  /** Audit stamp columns (reference TODO, src/main.rs:34). */
  val CreatedAtCol = "created_at"
  val ChangedAtCol = "changed_at"

  /** Mutations tolerated before a read triggers dataset-level compaction. */
  val CompactReadThreshold: Long = 4L

  /** Max distinct delta keys collected for a Bloom membership probe — above
    * this the probe skips blooms (fail open) rather than hold an unbounded
    * key list on the driver. Small deltas (point deletes, trickle upserts)
    * are exactly where membership pruning pays; big deltas take the
    * wide-merge path anyway.
    */
  val MaxBloomProbeKeys: Int = 256

  /** Max probe keys an index operator collects on the driver to prune a
    * corpus read (exact and MinHash dedup ingest, BM25 erase); above it the
    * read falls back to the full table (fail open — a batch that big
    * amortizes the scan it pays for). 256k longs is ~2 MB on the driver and
    * covers ~32k-document MinHash batches at the default 8 bands.
    */
  val MaxDriverProbeKeys: Int = 1 << 18

  /** Conditional manifest writes a rebase commit attempts before it gives
    * up on a lost write race ([[LakeDataset.rebaseCommit]]).
    */
  val MaxCommitAttempts: Int = 5

  /** Cell count above which toStorage switches from concurrent per-part
    * write jobs to one dynamic-partition write job (driver job scheduling
    * stops scaling long before the executors do).
    */
  val OnePassSaveCells: Int = 64

  /** Touched-cell count from which `saveParts` rewrites the cells in one
    * staged write job instead of two jobs per cell.
    */
  val OnePassSaveMinCells: Int = 8

  /** Snapshot rows above which a rebuild materializes to parquet spill
    * instead of the block store (which collapses under multi-GB snapshots:
    * 104s checkpoint vs 5s parquet write for the same 18M-row merge).
    */
  val SpillSnapshotRows: Long = 2_000_000L

  /** Build a dataset from a DataFrame (reference `Dataset::from_dataframe`,
    * src/dataset.rs:196-238). Parts snapshot the input via localCheckpoint,
    * so later mutations of the source don't leak in.
    */
  def fromDataFrame(
      spark: SparkSession,
      df: DataFrame,
      partitionCols: Seq[String] = Nil,
      bucketCols: Seq[String] = Nil,
      nBuckets: Int = 5,
      storage: Option[StorageSpec] = None,
      auditColumns: Boolean = false,
      auditClock: () => Column = () => current_timestamp(),
      bloomCols: Seq[String] = Nil,
      sketchCols: Seq[String] = Nil,
      quantileCols: Seq[String] = Nil,
      freqCols: Seq[String] = Nil): LakeDataset = {
    // Refuse an unsketchable DECLARED sketch column up front: routed
    // sketch aggregation would otherwise fail open silently (the per-batch
    // selector filters by type), and the user would discover the column is
    // untracked only when a catalog query fails over to a scan. A declared
    // column ABSENT from the initial schema stays legal — it may arrive by
    // schema evolution and is tracked from then on.
    sketchCols.foreach { c =>
      df.schema.fields.find(_.name == c).foreach(f =>
        require(HllMap.sketchable(f.dataType),
          s"sketch column '$c' has type ${f.dataType.simpleString} — " +
            "hll_sketch_agg accepts int, bigint, string, binary"))
    }
    // Same up-front refusal for quantile columns: a quantile is only
    // defined over numerics.
    quantileCols.foreach { c =>
      df.schema.fields.find(_.name == c).foreach(f =>
        require(QuantileMap.quantileable(f.dataType),
          s"quantile column '$c' has type ${f.dataType.simpleString} — " +
            "gk_agg accepts numeric types"))
    }
    // And for frequent-items columns: only string-canonical types (floats
    // would split counters across representations).
    freqCols.foreach { c =>
      df.schema.fields.find(_.name == c).foreach(f =>
        require(FreqMap.freqable(f.dataType),
          s"frequent-items column '$c' has type ${f.dataType.simpleString} — " +
            "freq_agg accepts string, boolean, date and integral types"))
    }
    val ds = new LakeDataset(spark, partitionCols.toList, bucketCols.toList, nBuckets,
      storage, bloomCols = bloomCols.toList, sketchCols = sketchCols.toList,
      quantileCols = quantileCols.toList, freqCols = freqCols.toList,
      auditClock = if (auditColumns) Some(auditClock) else None)
    ds.insert(df)
    ds
  }

  /** An EMPTY dataset bound to a storage root — cells arrive via
    * [[LakeDataset#insertWritten]] (the one-job ingest of incremental
    * indexes) or [[LakeDataset#insert]]. The layout (partitions, bucketing,
    * blooms) is fixed up front so every future batch routes identically.
    */
  def forStorage(
      spark: SparkSession,
      partitionCols: Seq[String],
      bucketCols: Seq[String],
      nBuckets: Int,
      bloomCols: Seq[String],
      storage: StorageSpec,
      sketchCols: Seq[String] = Nil,
      quantileCols: Seq[String] = Nil,
      freqCols: Seq[String] = Nil): LakeDataset =
    new LakeDataset(spark, partitionCols.toList, bucketCols.toList, nBuckets,
      Some(storage), bloomCols = bloomCols.toList, sketchCols = sketchCols.toList,
      quantileCols = quantileCols.toList, freqCols = freqCols.toList)

  /** Load a dataset from storage: read manifest, walk the directory tree for
    * part directories, rebuild parts (reference `Dataset::from_storage`,
    * src/dataset.rs:355-409). `eager=true` materializes each part on load.
    */
  def fromStorage(spark: SparkSession, root: String, eager: Boolean = false): LakeDataset = {
    import org.apache.spark.sql.types.StructType
    val manifest = Manifest.read(root)
    val ds = new LakeDataset(spark, manifest.partitions, manifest.buckets,
      manifest.nBuckets, Some(manifest.storage.copy(root = root)),
      bloomCols = manifest.bloomCols, sketchCols = manifest.sketchCols,
      quantileCols = manifest.quantileCols, freqCols = manifest.freqCols)
    ds.checksMap = manifest.checks // a reloaded table keeps its data contract
    ds.committedVersion.set(manifest.version)
    ds.initCommitBase(manifest) // rebase baselines: what this handle loaded

    val leafDirs = discoverLeafDirs(Paths.get(root))
    val target: Option[StructType] = manifest.schemaDdl.map(StructType.fromDDL)
    // Fix the tracked zone/sum sets from the manifest schema up front, so
    // loaded part stats and every future batch aggregation agree on the
    // same sets.
    target.foreach(ds.retrack)
    if (leafDirs.isEmpty) {
      // A saved EMPTY table is a manifest-only layout: reconstruct an empty
      // dataset (schema from the manifest DDL) instead of refusing to load
      // what toStorage legitimately wrote.
      val t = target.getOrElse(
        throw new IllegalStateException(s"no parts and no schema DDL under $root"))
      ds.cleanScan = Some(spark.createDataFrame(new java.util.ArrayList[Row](), t))
      return ds
    }
    // Partition values and bucket ids live in the directory names (the
    // one-pass partitionBy layout); data files hold the remaining columns.
    val fileSchema: Option[StructType] = target.map(t =>
      StructType(t.fields.filterNot(f => manifest.partitions.contains(f.name))))

    // ONE multi-path scan relation covering every part: whole-table queries
    // plan a single file scan (no union) with NATIVE Hive partition pruning
    // from the directory layout (basePath turns `k=v` segments back into
    // columns). The manifest DDL restores exact column order and types.
    val reader0 = spark.read.format(manifest.storage.format)
      .option("basePath", root)
    // Parquet is self-describing; csv/json load with the manifest file schema.
    val reader = fileSchema match {
      case Some(fs) if manifest.storage.format != "parquet" => reader0.schema(fs)
      case _ => reader0
    }
    val whole0 = reader.load(leafDirs.map(_.toString): _*)
    val whole = target match {
      case Some(t) => whole0.select(t.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      case None => if (whole0.columns.contains("bucket")) whole0.drop("bucket") else whole0
    }

    leafDirs.foreach { dir =>
      val rel = Paths.get(root).relativize(dir).toString
      val segs = if (rel.isEmpty) Nil else rel.split('/').toList
      val kvs = segs.flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, v) => Some(k -> v)
          case _ => None
        }
      }
      val bucketNr = kvs.collectFirst { case ("bucket", v) =>
        if (v == PartKey.NullMarker) LakeDataset.NullBucket else v.toInt
      }
      val partVals = kvs.filter(_._1 != "bucket").sortBy(_._1)
        .map { case (k, v) => k -> PartKey.unescape(v) }
      // Deferred until the part's plan is first touched: building one
      // DataFrame per cell (a directory listing + analysis each) eagerly
      // makes loading O(cells) driver work, and the pruned/multi-path read
      // paths never need per-part plans at all.
      def partDf(): DataFrame = {
        val raw0 = fileSchema
          .fold(spark.read.format(manifest.storage.format))(fs =>
            spark.read.schema(fs).format(manifest.storage.format))
          .load(dir.toString)
        // Restore the partition columns (directory values, manifest types)
        // and the exact column order.
        val restored = partVals.foldLeft(raw0) { case (d, (k, v)) =>
          val dt = target.flatMap(t => t.fields.find(_.name == k)).map(_.dataType)
            .getOrElse(org.apache.spark.sql.types.StringType)
          d.withColumn(k, lit(v).cast(dt))
        }
        target match {
          case Some(t) => restored.select(t.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
          case None => restored
        }
      }
      val key = PartKey(partVals, bucketNr)
      // Restore this part's statistics from the manifest (typed via the
      // schema DDL, restricted to this table's tracked and declared sets;
      // an entry that fails to decode drops its COLUMN — stats degrade to
      // unknown, fail open, never wrong). The superset families come back
      // as they were saved. The manifest's tightness vouch — a part listed
      // under part_rows with zones was saved exact — restores its counter,
      // its exactness and the exact families, so a freshly loaded table
      // answers metadata-only with ZERO file reads (the stats live in one
      // JSON manifest, not in O(files) footers).
      def restored(exact: Boolean) = StatFamily.all.filter(_.superset != exact)
        .flatMap(f => f.restore(ds, target, manifest, key.relPath).map(f -> _))
      val supersets = restored(exact = false)
      val exactRows: Option[Long] = manifest.partRows.get(key.relPath)
      val tight = exactRows.isDefined && supersets.exists(_._1 == StatFamily.Zones)
      val stats = PartStats(supersets ++ (if (tight) restored(exact = true) else Nil))
      // Eager load: materialize NOW by contract (the caller asked for
      // resident parts); otherwise the plan thunk runs on first touch.
      val resident = Option.when(eager) {
        val c = ds.partSnapshot(partDf()); ds.retainDirect(c); c
      }
      ds.parts.put(key,
        ds.newPart(resident.getOrElse(partDf()), key, exactRows.getOrElse(-1L), stats, tight))
      ds.diskDirs.put(key, dir.toString)
      target.foreach(t => ds.diskSchemas.put(key, t))
    }
    if (!eager) ds.cleanScan = Some(whole)
    ds
  }

  /** Directories that directly contain data files (recursive walk —
    * reference `extract_files`, src/storage.rs:38-53).
    */
  private def discoverLeafDirs(root: Path): List[Path] = {
    val out = mutable.ListBuffer[Path]()
    def walk(dir: Path): Unit = {
      val entries = Files.list(dir).iterator().asScala.toList
      val hasData = entries.exists { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) &&
          !n.startsWith(".") && !n.startsWith("_") && n != "manifest.json" &&
          (n.startsWith("part-") ||
            n.endsWith(".parquet") || n.endsWith(".csv") || n.endsWith(".json"))
      }
      if (hasData) out += dir
      // Skip `_`/`.`-prefixed NON-cell directories (the Hive/Spark
      // convention for job-temporary and metadata trees): a crash-leftover
      // `_staging_*` or an in-flight writer's `_temporary` must never
      // register its files as live cells. `k=v` cell directories always
      // walk, even for partition columns named with a leading underscore.
      entries.filter { p =>
        val n = p.getFileName.toString
        Files.isDirectory(p) &&
          (n.contains("=") || !(n.startsWith("_") || n.startsWith(".")))
      }.foreach(walk)
    }
    walk(root)
    out.toList
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** Source-key cardinality probe shared by SQL MERGE and the engine
    * [[LakeDataset.upsert]]: two source rows with the same key make the
    * merge ambiguous (ANSI MERGE's "attempt to update the same row twice"
    * violation; an unchecked upsert's outer join fans out over the
    * duplicates, silently leaving MORE than one row per key).
    * One O(batch) aggregate finds ANY duplicate — strictly cheaper than the
    * mutation it guards — and errors loudly naming the first offending key.
    * `spark.graft.merge.checkSourceKeys=false` skips the probe for
    * trusted-deduped feeds (e.g. a CDC stream that already merges per key).
    */
  private[graft] def requireUniqueSourceKeys(spark: SparkSession, df: DataFrame,
      keys: Seq[String], what: String): Unit =
    if (spark.conf.get("spark.graft.merge.checkSourceKeys", "true").toBoolean) {
      // NULL-key rows are EXCLUDED from the probe: the merge join's key
      // equality is null-unsafe, so NULL-key rows never match anything and
      // insert as distinct rows — two of them is not a cardinality
      // ambiguity (groupBy would lump them into one group and falsely
      // reject the batch).
      val dup = df.filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(col): _*)
        .count().filter(col("count") > 1).limit(1).collect()
      if (dup.nonEmpty)
        throw new IllegalArgumentException(
          s"$what has multiple rows for key (" +
            keys.zipWithIndex.map { case (k, i) => s"$k=${dup(0).get(i)}" }
              .mkString(", ") +
            ") — merge-cardinality violation; dedupe the batch or set " +
            "spark.graft.merge.checkSourceKeys=false")
    }

  /** Driver-side pool for concurrent per-part Spark jobs (save/materialize).
    * Daemon threads — the pool must never keep the JVM alive after main.
    */
  private[lake] lazy val ioPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8, r => {
        val t = new Thread(r, "graft-io")
        t.setDaemon(true)
        t
      }))
}
