package graft.lake

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Bucketing
import graft.model.{PartKey, StorageSpec}

/** One partition×bucket cell of a [[LakeDataset]].
  *
  * Spark DataFrames are immutable; what mutates is the `AtomicReference` that
  * holds the part's current (lazily planned) DataFrame — the same design as
  * the reference's `Mutex<LazyFrame>` plan-rewrite (reference:
  * src/dataset.rs:16-25, 82-147). All mutations run under a per-part lock.
  *
  * Plan-growth management: repeated lazy insert/upsert grows the logical plan
  * without bound (the Spark analogue of the reference's uncollected LazyFrame
  * chains). We auto-compact via `localCheckpoint` once `changes` crosses
  * [[LakePart.AutoCompactThreshold]] — the policy the reference sketched but
  * left disabled (src/dataset.rs:95, :136). At cluster scale this is what
  * keeps driver-side analysis O(1) per query instead of O(mutations).
  */
final class LakePart private[lake] (
    initial: => DataFrame,
    val key: PartKey,
    val bucketCols: Seq[String],
    val nBuckets: Int,
    initialRows: Long,
    /** Reports checkpoints this part creates to the owning dataset's storage
      * ledger, so superseded generations can be released on rebuild.
      */
    onCheckpoint: DataFrame => Unit,
    /** The owning dataset's FIXED tracked-stat-column selector. Materialize
      * recomputes stats through it so the part never tracks a different set
      * than the routing aggregation folds in with (set drift is unsound —
      * see [[StatFamily.cols]]).
      */
    layoutOf: StructType => StatLayout,
    /** How this part materializes its accumulated plan — the owning
      * dataset's snapshot policy (local checkpoint, or parquet spill in
      * reliable mode; see `LakeDataset.partSnapshot`).
      */
    snapshot: DataFrame => DataFrame,
    /** The part's statistics per family ([[StatFamily]] states how each
      * family follows every mutation); no family at all for a part loaded
      * without them.
      */
    initialStats: PartStats,
    /** Whether the initial statistics and row counter reflect the part's
      * data EXACTLY — true on every in-memory creation path (all compute
      * stats from the routed batch itself); false for parts loaded from a
      * manifest that does not vouch for them. See [[statsTight]].
      */
    initialTight: Boolean = true) {

  // `initial` stays UNEVALUATED until first touch: a loaded table registers
  // one part per cell, and building each cell's plan (a directory listing +
  // analysis) eagerly makes open() O(parts) driver work that a pruned read
  // never needs — multi-path pruned scans bypass part plans entirely.
  private val ref = new AtomicReference[DataFrame](null)

  /** The part's current plan, constructing the initial one on first touch. */
  private def cur: DataFrame = {
    var d = ref.get
    if (d == null) lock.synchronized {
      d = ref.get
      if (d == null) { d = initial; ref.set(d) }
    }
    d
  }
  private val statsRef = new AtomicReference[PartStats](initialStats)

  /** Current statistics. The exact families are meaningful only while
    * [[statsTight]] — consumers must check both.
    */
  def stats: PartStats = statsRef.get

  /** Current zone maps; None = no statistics (pruning fails open). */
  def zones: Option[Map[String, Zone]] = stats.get(StatFamily.Zones)

  /** Current key blooms; None = no statistics (pruning fails open). */
  def blooms: Option[Map[String, Bloom]] = stats.get(StatFamily.Blooms)

  /** Stats-exactness flag: true while the part's zones and row counter are
    * known to reflect its data EXACTLY, not just soundly. Inserts preserve
    * it (count adds the batch, min/max widen with the batch's exact bounds —
    * both exact under pure append); upsert and delete clear it (their
    * widened stats are a sound SUPERSET, and upsert leaves the counter
    * stale); [[materialize]] restores it by recomputing from data. While
    * every part of a dataset is tight, aggregate queries of the
    * count/min/max family can be answered from the CATALOG with zero file
    * scans (`LakeDataset.metaStats`) — the lakehouse metadata-only-query
    * property. The flag only ever gates that fast path; pruning soundness
    * never depends on it.
    */
  val statsTight = new java.util.concurrent.atomic.AtomicBoolean(initialTight)

  /** Maintained row counter; deliberately stale after upsert until the next
    * materialize, matching reference semantics (src/dataset.rs:144). */
  val rows = new AtomicLong(initialRows)
  /** The counter a delete leaves behind instead of -1: an upper bound for
    * size heuristics (as stale as [[rows]] after an upsert), never for
    * answers. -1 while never counted.
    */
  val rowsAtMost = new AtomicLong(initialRows)
  /** The tight-and-counted gate: the exact row count while the stats are
    * exact AND the counter is known — what every exact catalog answer and
    * the manifest's vouch require. One read of the counter, so a concurrent
    * delete cannot slip its -1 past the check.
    */
  def vouchedRows: Option[Long] = {
    val n = rows.get
    if (statsTight.get && n >= 0L) Some(n) else None
  }

  def vouched: Boolean = vouchedRows.isDefined

  /** Rows mutated since the last materialize. */
  val changes = new AtomicLong(0L)
  /** Mutation operations since the last materialize — plan DEPTH, not volume.
    * A thousand 1-row upserts is few changed rows but a 1000-deep join chain;
    * depth is what blows up Catalyst analysis, so we compact on either axis.
    */
  val mutationOps = new AtomicLong(0L)
  private val lock = new Object

  /** A detached copy carrying this part's CURRENT plan, counters and
    * statistics — the rollback unit of the dataset transaction seam
    * ([[LakeDataset]] `txBegin`/`txRollback`): mutations keep mutating the
    * live part in place, and an aborted transaction swaps the untouched
    * fork back in. By-name `initial` forwarding keeps a never-touched
    * lazily-loaded part lazy — forking never forces a storage read.
    */
  private[lake] def fork(): LakePart = lock.synchronized {
    val cur0 = ref.get
    val f = new LakePart(
      initial = if (cur0 != null) cur0 else initial,
      key = key, bucketCols = bucketCols, nBuckets = nBuckets,
      initialRows = rows.get, onCheckpoint = onCheckpoint, layoutOf = layoutOf,
      snapshot = snapshot, initialStats = statsRef.get, initialTight = statsTight.get)
    f.rowsAtMost.set(rowsAtMost.get)
    f.changes.set(changes.get)
    f.mutationOps.set(mutationOps.get)
    f
  }

  def df: DataFrame = cur

  /** Bucket-filtered view: re-filters to this part's bucket id so overlapping
    * ingest stays partition-correct (reference: src/dataset.rs:63-80). Parts
    * without buckets return the plan as-is. The [[LakeDataset.NullBucket]]
    * sentinel cell filters on a NULL bucket expression (rows whose bucket
    * column value hashes to null) — mirroring the null-partition-value cells.
    */
  def view: DataFrame = key.bucketNr match {
    case Some(b) if bucketCols.nonEmpty =>
      val d = cur
      val e = Bucketing.bucketExprFor(d, bucketCols.head, nBuckets)
      d.filter(if (b == LakeDataset.NullBucket) e.isNull else e === lit(b))
    case _ => cur
  }

  /** Append rows (reference: src/dataset.rs:82-106) and fold the batch's
    * statistics in — exact under pure append, so tightness survives. The
    * fold happens before any auto-compaction, whose recount would otherwise
    * already include the batch. Schema evolution is tolerated via
    * `allowMissingColumns` (the reference's TODO at src/main.rs:33).
    */
  def insert(other: DataFrame, otherRows: Long, delta: PartStats,
      collectNow: Boolean = false): Unit =
    lock.synchronized {
      ref.set(cur.unionByName(other, allowMissingColumns = true))
      statsRef.updateAndGet(_.append(delta))
      rows.addAndGet(otherRows)
      if (rowsAtMost.get >= 0L) rowsAtMost.addAndGet(otherRows)
      changes.addAndGet(otherRows)
      maybeCompact(collectNow)
    }

  /** Merge rows on `keys`: full outer join then per-column
    * `coalesce(incoming, existing)` — incoming wins, but a NULL in the
    * incoming column preserves the existing value (reference:
    * src/dataset.rs:108-147). Keys surviving only on one side are taken from
    * that side. Columns present only in the incoming frame are appended
    * (schema evolution — null for pre-existing rows); columns missing from
    * the incoming frame keep their existing values. Statistics: the superset
    * families widen with the batch's (surviving values ⊆ old ∪ delta), the
    * exact ones go unknown.
    */
  def upsert(other: DataFrame, keys: Seq[String], otherRows: Long, delta: PartStats,
      collectNow: Boolean = false, leftWins: Set[String] = Set.empty): Unit =
    lock.synchronized {
      ref.set(LakePart.upsertJoin(cur, other, keys, leftWins))
      statsTight.set(false) // superset zones + stale counter until materialize
      statsRef.updateAndGet(_.rewritten.append(delta))
      changes.addAndGet(otherRows)
      // rows counter intentionally unchanged (stale until materialize),
      // mirroring reference src/dataset.rs:144.
      maybeCompact(collectNow)
    }

  /** Delete rows matching the incoming keys — left ANTI join. This is the
    * reference's own "delete == anti right" TODO (src/main.rs:31) made real.
    * Runs the same auto-compaction guard as insert/upsert: a long chain of
    * deletes is a join chain like any other and must not grow the plan
    * without bound.
    */
  def delete(keysDf: DataFrame, keys: Seq[String]): Unit = lock.synchronized {
    ref.set(cur.join(keysDf.select(keys.map(col): _*).distinct(), keys, "left_anti"))
    statsTight.set(false) // zones now a superset of the surviving rows
    statsRef.updateAndGet(_.rewritten)
    changes.addAndGet(1L)
    rows.set(-1L) // unknown until materialize/recount
    maybeCompact(false)
  }

  /** Delete rows matching a predicate — SQL `DELETE WHERE` semantics
    * ([[LakePart.survivors]]).
    */
  def deleteWhere(cond: Column): Unit = lock.synchronized {
    ref.set(LakePart.survivors(cur, cond))
    statsTight.set(false) // zones now a superset of the surviving rows
    statsRef.updateAndGet(_.rewritten)
    changes.addAndGet(1L)
    rows.set(-1L) // unknown until materialize/recount
    maybeCompact(false)
  }

  /** Update matching rows in place — SQL `UPDATE ... SET` semantics: every
    * assignment's right-hand side evaluates against the OLD row (one select
    * computes them all; sequential `withColumn` would let `SET a = b,
    * b = a` see a half-updated row), and rows where the predicate is FALSE
    * or NULL are untouched. Row count is preserved; the assigned columns'
    * entries are DROPPED from every stat family (new values may lie outside
    * the old bounds, sums, sketches and summaries — unknown stats fail open,
    * wrong stats never), while every other column's statistics stay live
    * and exact. Caller must have excluded
    * partition/bucket columns from the assignment set (an in-place update
    * cannot move a row between cells).
    */
  def updateWhere(cond: Column, assignments: Seq[(String, Column)]): Unit =
    lock.synchronized {
      val c = coalesce(cond, lit(false))
      val amap = assignments.toMap
      val d = cur
      ref.set(d.select(d.columns.map { cn =>
        amap.get(cn) match {
          case Some(v) => when(c, v).otherwise(col(cn)).as(cn)
          case None => col(cn)
        }
      }.toSeq: _*))
      statsRef.updateAndGet(_.forget(assignments.map(_._1).toSet))
      changes.addAndGet(1L)
      maybeCompact(false)
    }

  /** Collect the accumulated plan into materialized form and reset lineage
    * (reference `DatasetPart::collect`, src/dataset.rs:47-52). We use an
    * eager `localCheckpoint`, which truncates the logical plan — the closest
    * Spark analogue of polars' collect-then-re-lazy.
    */
  def materialize(): Unit = lock.synchronized {
    // Already compact: every creation path with a known row count builds the
    // part as a slice of a just-checkpointed snapshot (splitByCell /
    // rebuildFromSnapshot), so with zero mutations since there is nothing to
    // collapse and nothing to recount. (Lazily loaded parts carry rows = -1
    // and still materialize eagerly.)
    if (changes.get != 0L || mutationOps.get != 0L || rows.get < 0L) {
      val m = snapshot(cur)
      onCheckpoint(m)
      ref.set(m)
      // The recount job doubles as a stats pass: zones recompute TIGHT here
      // (mutations in between only ever widened them), and parts that had
      // no stats at all (lazily loaded) gain them.
      recount(m)
      changes.set(0L)
      mutationOps.set(0L)
    }
  }

  /** Column DDL at the PLAN level: apply `f` to the part's plan (add /
    * drop / rename columns — no data pass, no file touch) and keep the
    * statistics honest: dropped columns lose their entries, renamed ones
    * remap, everything else is untouched — the remaining stats still
    * reflect the data exactly, so [[statsTight]] survives (an ADDED column
    * simply has no stats yet: metadata answers over it fail open until
    * the next materialize).
    */
  private[lake] def alterPlan(f: DataFrame => DataFrame,
      dropStats: Set[String] = Set.empty,
      renameStats: Map[String, String] = Map.empty): Unit = lock.synchronized {
    ref.set(f(cur))
    statsRef.updateAndGet(_.remap(dropStats, renameStats))
    mutationOps.incrementAndGet() // plan depth grew by one
  }

  /** ANALYZE: recompute exact statistics from the part's CURRENT data
    * without collapsing the plan or touching any file — one aggregation
    * job, zero writes. Restores [[statsTight]]. For a disk-resident part
    * the scan reads only this cell's files; for a mutation-deep part
    * prefer [[materialize]] (it also collapses the plan).
    */
  private[lake] def analyzeStats(): Unit = lock.synchronized {
    if (vouched) return
    recount(cur)
  }

  /** One aggregation job over `d`: exact count and every family's stats,
    * restoring [[statsTight]].
    */
  private def recount(d: DataFrame): Unit = {
    val (n, st) = layoutOf(d.schema).of(d)
    rows.set(n)
    rowsAtMost.set(n)
    statsRef.set(st)
    statsTight.set(true)
  }

  private def maybeCompact(collectNow: Boolean): Unit = {
    mutationOps.incrementAndGet()
    if (collectNow ||
        changes.get >= LakePart.AutoCompactThreshold ||
        mutationOps.get >= LakePart.AutoCompactDepth) materialize()
  }

  /** Persist this part under `root` at its Hive-style path (reference:
    * src/dataset.rs:149-179). Unlike the reference's single file per part, we
    * let Spark write one file per task — at 100 TB a part is written by many
    * executors in parallel; single-file parts would serialize the write.
    *
    * `dropCols` are the dataset's partition columns: they live in the
    * directory name, not the data files, matching the layout of the one-pass
    * `LakeDataset.toStorage` writer so incremental and full saves interleave.
    */
  def save(storage: StorageSpec, dropCols: Seq[String] = Nil): Unit = {
    val path = s"${storage.root}/${key.relPath}"
    view.drop(dropCols: _*).write
      .mode("overwrite")
      .format(storage.format)
      .option("compression", storage.compression)
      .save(path)
  }

  /** Swap the part's plan for a fresh disk-backed read after a one-pass
    * staged rewrite landed its files ([[LakeDataset.saveParts]]): the
    * accumulated mutation lineage references the REPLACED files and must
    * retire. Stats are left as-is — the mutation already set them to a
    * sound superset / unknown, and the rewrite changed bytes, not rows;
    * the caller's grouped recount ([[adoptTightStats]]) re-tightens them.
    */
  private[lake] def repoint(fresh: DataFrame): Unit = lock.synchronized {
    ref.set(fresh)
    changes.set(0L)
  }

  /** Adopt exact MEMBERSHIP statistics computed EXTERNALLY from this
    * part's current data — the one-pass rewrite's grouped recount (ONE
    * aggregation job covers every rewritten cell, and it reads only the
    * bloom-tracked columns — parquet column pruning keeps it far cheaper
    * than a full [[analyzeStats]] per part). `fresh` replaces the families
    * it carries. Deliberately does NOT restore [[statsTight]]: zones/sums
    * stay the loose supersets the mutation left (sound), and re-tightening
    * everything costs a full-width scan the erase gates measured as a
    * regression. Blooms are the one stat the driver-side locate consults
    * for MEMBERSHIP — fresh tight blooms are what stop repeated erases from
    * rewriting cells that provably hold nothing.
    */
  private[lake] def adoptStats(n: Long, fresh: PartStats): Unit = lock.synchronized {
    rows.set(n)
    statsRef.updateAndGet(_.adopt(fresh))
  }
}

object LakePart {
  /** Auto-compaction threshold in mutated rows. The reference sketched 10_000
    * then commented it out (src/dataset.rs:95); we enable it because unbounded
    * union/join chains eventually stack-overflow Catalyst analysis.
    */
  val AutoCompactThreshold: Long = 10_000_000L

  /** Max chained mutations before forced compaction (plan-depth guard). */
  val AutoCompactDepth: Long = 24L

  /** The rows SQL `DELETE WHERE cond` keeps: those where `cond` is FALSE
    * **or NULL** (a bare `filter(!cond)` would delete the NULL rows too).
    */
  def survivors(d: DataFrame, cond: Column): DataFrame =
    d.filter(!coalesce(cond, lit(false)))

  /** The upsert merge plan: full outer join on `keys`, then per-column
    * `coalesce(incoming, existing)` — incoming wins, but NULL in the
    * incoming column preserves the existing value (reference:
    * src/dataset.rs:108-147). `leftWins` columns keep the EXISTING value on
    * matched rows (audit created_at). Columns only in the incoming frame
    * are appended (schema evolution); columns missing from it keep their
    * existing values. Shared by the per-cell and dataset-global paths.
    */
  def upsertJoin(old: DataFrame, incoming: DataFrame,
      keys: Seq[String], leftWins: Set[String]): DataFrame = {
    val l = old.alias("l")
    val r = incoming.alias("r")
    val cond: Column = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val joined = l.join(r, cond, "full_outer")
    val otherCols = incoming.columns.toSet
    val existing = old.columns.map { c =>
      if (!otherCols.contains(c)) col(s"l.$c").as(c)
      else if (leftWins.contains(c)) coalesce(col(s"l.$c"), col(s"r.$c")).as(c)
      else coalesce(col(s"r.$c"), col(s"l.$c")).as(c)
    }
    val added = incoming.columns.filterNot(old.columns.contains).map(c => col(s"r.$c").as(c))
    joined.select(existing ++ added: _*)
  }
}
