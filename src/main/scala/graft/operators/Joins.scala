package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.lake.LakeDataset

/** Join helpers for skewed data.
  *
  * AQE's skew-join handling covers sort-merge joins at runtime; explicit
  * salting is still the tool of choice when one key dominates a
  * shuffled-hash/aggregate path or when the skew is known up front (e.g. the
  * null key, or a handful of hot documents in dedup workloads).
  */
object Joins {

  /** Skew-safe inner equi-join of a large skewed frame against a smaller
    * one. The big side gets a deterministic per-row salt in [0, factor);
    * the small side is exploded `factor`× so every (key, salt) combination
    * matches. The hot key's rows then spread over `factor` shuffle
    * partitions instead of one.
    *
    * `saltSource` must be a deterministic per-row expression on `big`
    * (a distinguishing column, NOT rand() — retries would reshuffle rows).
    */
  def saltedJoin(
      big: DataFrame, small: DataFrame, key: String,
      factor: Int, saltSource: Column): DataFrame = {
    val salted = big.withColumn("__graft_salt",
      pmod(xxhash64(saltSource), lit(factor.toLong)).cast("int"))
    val exploded = small.withColumn("__graft_salt",
      explode(sequence(lit(0), lit(factor - 1))))
    salted.join(exploded, Seq(key, "__graft_salt")).drop("__graft_salt")
  }

  /** Lake-aware dynamic partition pruning: join a lake FACT table to a
    * (filtered) dimension, pruning fact CELLS by the dimension's actual key
    * set before any fact byte is read. Spark's own DPP needs the fact's
    * join column to be its Hive partition column; the engine's catalog
    * (zone maps + key blooms + bucket routing via
    * `LakeDataset.prunedByLongKeys`) prunes on ANY tracked BIGINT column —
    * the common "dimension filter implies a fact key range" shape where a
    * full fact scan is the whole cost at 100 TB.
    *
    * Two-step plan: (1) collect the dimension's distinct join keys to the
    * driver, bounded by `maxDriverKeys` — dimensions that survive their
    * filter with MORE keys than that wouldn't prune much anyway, so the
    * join falls open to the plain whole-fact join (fail open, never wrong);
    * (2) the kept cells join the dimension with a broadcast hint — the key
    * set just proved driver-small, and a dimension is keyish by contract
    * (rows ≈ distinct keys; pass a pre-deduplicated frame if yours is not).
    *
    * Inner-join semantics: pruning keeps a SUPERSET of matching cells; the
    * join itself discards non-matching rows.
    */
  def dppJoin(
      fact: graft.lake.LakeDataset, factKey: String,
      dim: DataFrame, dimKey: String,
      maxDriverKeys: Int = 100_000): DataFrame = {
    // Integral-typed keys only (the catalog probe is long-keyed); any other
    // key type falls open to the plain join like the over-cap path — never
    // a runtime ClassCastException on e.g. an IntegerType dimension key.
    val integral = dim.select(col(dimKey)).schema.head.dataType match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val keyRows =
      if (integral)
        dim.select(col(dimKey).cast("long")).na.drop().distinct()
          .limit(maxDriverKeys + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    if (!integral || keyRows.length > maxDriverKeys) {
      // Over the cap: no pruning, no broadcast claim — the plain join, with
      // Catalyst/AQE picking the strategy from its own statistics.
      val f = fact.toDF
      f.join(dim, f(factKey) === dim(dimKey))
    } else {
      val pruned = fact.prunedByLongKeys(factKey, keyRows.map(_.getLong(0)))
      pruned.join(broadcast(dim), pruned(factKey) === dim(dimKey))
    }
  }

  /** As-of join: attach to each left row the LATEST right row per key whose
    * timestamp is at-or-before the left row's timestamp (the event ×
    * feature-snapshot join training pipelines run constantly; Spark has no
    * native operator). Left semantics: left rows with no qualifying
    * snapshot keep NULL payloads.
    *
    * Implementation is the union + running-`last` formulation: tag both
    * sides, sort within each key by (ts, side) — right rows first on ties,
    * so a snapshot AT the event time qualifies — and carry the most recent
    * payload forward with `last(..., ignoreNulls) OVER (ROWS UNBOUNDED
    * PRECEDING)`. Payloads travel as ONE struct so the carried snapshot is
    * row-atomic (per-column `last` would stitch fields from different
    * snapshots when a snapshot holds genuine NULLs).
    *
    * Scale shape: ONE shuffle + sort by key — the same cost as the
    * sort-merge join Spark would run for a plain equi-join, with no
    * inequality-join blowup (a naive `l.ts >= r.ts` join is O(events ×
    * snapshots) per key before its row_number filter).
    *
    * Right rows sharing (key, ts) are tie-broken arbitrarily — deduplicate
    * first (e.g. [[Dedup.keepFirst]]) when that matters.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String],
      strategy: String = "backward",
      tolerance: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(Seq("backward", "forward", "nearest").contains(strategy),
      s"asof strategy must be backward, forward or nearest, got $strategy")
    val ts = "__graft_asof_ts"
    val side = "__graft_asof_side"
    val snap = "__graft_asof_snap"
    val mts = "__graft_asof_mts"
    // The matched right timestamp rides INSIDE the payload struct: the
    // tolerance check and any debugging need it, and carrying it in the
    // same struct keeps the whole snapshot row-atomic.
    val rightTsType = right.schema(rightTs).dataType
    val snapType = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField(mts, rightTsType) +:
        right.select(payload.map(col): _*).schema.fields)
    val l = left
      .withColumn(ts, col(leftTs))
      .withColumn(side, lit(1))
      .withColumn(snap, lit(null).cast(snapType))
    val r = right.select(
      keys.map(col) ++ Seq(
        col(rightTs).as(ts), lit(0).as(side),
        struct(col(rightTs).as(mts) +: payload.map(col): _*).as(snap)): _*)
    // backward: ascending ts, right-before-left on ties -> latest snapshot
    // at-or-BEFORE the event. forward (polars `strategy="forward"`): the
    // SAME running-last over descending ts -> earliest snapshot at-or-AFTER.
    // nearest: BOTH frames over ONE ascending sort (preceding running-last
    // = backward candidate, following first = forward candidate — Spark
    // computes both windows on the same sorted partition, so nearest still
    // costs one shuffle), then pick the closer, ties to backward — polars'
    // `strategy="nearest"`.
    val union = l.unionByName(r, allowMissingColumns = true)
    val joined = if (strategy != "nearest") {
      val ord = if (strategy == "backward") Seq(col(ts).asc, col(side).asc)
        else Seq(col(ts).desc, col(side).asc)
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      union.withColumn(snap, last(col(snap), ignoreNulls = true).over(w))
        .filter(col(side) === 1)
    } else {
      val wb = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(ts).asc, col(side).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(ts).asc, col(side).asc)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val snapB = "__graft_asof_b"
      val snapF = "__graft_asof_f"
      // An equal-ts snapshot sorts BEFORE the event (side 0 first), so the
      // backward frame owns it at distance zero — and distance-zero ties
      // choose backward, so the forward frame missing it never shows.
      union
        .withColumn(snapB, last(col(snap), ignoreNulls = true).over(wb))
        .withColumn(snapF, first(col(snap), ignoreNulls = true).over(wf))
        .filter(col(side) === 1)
        .withColumn(snap,
          when(col(s"$snapF.$mts").isNull, col(snapB))
            .when(col(s"$snapB.$mts").isNull, col(snapF))
            .when(col(leftTs) - col(s"$snapB.$mts") <=
              col(s"$snapF.$mts") - col(leftTs), col(snapB))
            .otherwise(col(snapF)))
        .drop(snapB, snapF)
    }
    // Tolerance (polars `tolerance=`): the nearest qualifying snapshot
    // farther than `tolerance` means NO match (anything else is farther
    // still) — null the whole snapshot, preserving left semantics.
    val bounded = tolerance match {
      case None => joined
      case Some(tol) =>
        val diff = strategy match {
          case "backward" => col(leftTs) - col(s"$snap.$mts")
          case "forward" => col(s"$snap.$mts") - col(leftTs)
          case _ => greatest(col(leftTs) - col(s"$snap.$mts"),
            col(s"$snap.$mts") - col(leftTs))
        }
        joined.withColumn(snap,
          when(col(s"$snap.$mts").isNotNull && diff <= tol, col(snap)))
    }
    bounded.select(
      left.columns.map(col) ++ payload.map(p => col(s"$snap.$p").as(p)): _*)
  }

  /** Range (interval) join: pair each left row with the right intervals
    * `[loCol, hiCol]` containing its `pointCol`, with optional equi-keys —
    * the second inequality-join shape pipelines hit constantly (value-band
    * lookups, IP ranges, time windows).
    *
    * Grid-binned: each interval explodes into the fixed-width bins it
    * covers, each point computes its single bin, and the join becomes a
    * pure EQUI-join on (keys, bin) + an exact BETWEEN filter. A matching
    * pair meets in exactly one bin (the point's), so no dedup is needed —
    * and Spark never falls back to the O(n×m) broadcast-nested-loop plan an
    * inequality join would get. `binSize` ~ the typical interval width:
    * wider bins explode fewer rows but test more false candidates.
    */
  def rangeJoin(
      left: DataFrame, pointCol: String,
      right: DataFrame, loCol: String, hiCol: String,
      keys: Seq[String] = Nil, binSize: Long = 16L): DataFrame = {
    require(binSize > 0, "binSize must be positive")
    val bin = "__graft_bin"
    val l = left.withColumn(bin, floor(col(pointCol) / binSize))
    val r = right.withColumn(bin,
      explode(sequence(floor(col(loCol) / binSize), floor(col(hiCol) / binSize))))
    l.join(r, (keys :+ bin).toSeq)
      .filter(col(pointCol).between(col(loCol), col(hiCol)))
      .drop(bin)
  }

  /** FUZZY (edit-distance) EQUI-JOINIZATION, SymSpell-style: join two
    * frames on strings within Levenshtein distance `maxDist` WITHOUT the
    * O(n×m) nested-loop plan a `levenshtein(l, r) <= k` predicate gets.
    *
    * Candidate generation is the deletion-neighborhood theorem: if
    * lev(a, b) <= k then a and b share at least one string in their
    * "delete up to k characters" neighborhoods (any edit script can be
    * canceled by deleting the touched positions from both sides). So each
    * side explodes into its deletion variants — O(len) of them for k=1,
    * O(len²) for k=2 — the join becomes a pure EQUI-join on the variant
    * key, and one exact `levenshtein` filter on the candidate pairs
    * removes the false positives. Completeness is the theorem; no
    * recall knob.
    *
    * Scale shape: variant generation is a narrow map (one codegen'd
    * `transform`/`flatten` per row, no UDF); the equi-join shuffles on the
    * variant key, so cost is Σ bucket² over strings SHARING a variant —
    * near-dup density, never |left|×|right|. Duplicate candidates (a pair
    * can meet in several variants) dedup BEFORE the levenshtein filter.
    * Distance is capped at 2: k=3 deletion neighborhoods are O(len³) per
    * row and real typo/OCR joins use 1-2.
    *
    * Returns the distinct matched pairs `(left_str, right_str, dist)` —
    * join back to the full rows by string equality caller-side (keeps this
    * operator's output narrow instead of carrying both row payloads
    * through the variant shuffle).
    */
  def fuzzyJoin(
      left: DataFrame, leftCol: String,
      right: DataFrame, rightCol: String,
      maxDist: Int = 1): DataFrame = {
    val l = fuzzyVariants(left, leftCol, maxDist)
      .select(col("__graft_s").as(s"${leftCol}_l"), col("__graft_key"))
    val r = fuzzyVariants(right, rightCol, maxDist)
      .select(col("__graft_s").as(s"${rightCol}_r"), col("__graft_key"))
    l.join(r, "__graft_key")
      .select(s"${leftCol}_l", s"${rightCol}_r")
      .distinct()
      .withColumn("dist", levenshtein(col(s"${leftCol}_l"), col(s"${rightCol}_r")))
      .filter(col("dist") <= maxDist)
  }

  /** Exploded deletion-neighborhood of a frame's distinct strings:
    * `(__graft_s, __graft_key)` — one row per (string, variant). The
    * candidate-generation half of [[fuzzyJoin]]/[[fuzzySelfPairs]].
    */
  private def fuzzyVariants(df: DataFrame, strCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"fuzzy join supports maxDist 1 or 2, got $maxDist")
    // All single-character-deletion variants of s; empty-safe (sequence()
    // would go DESCENDING for an empty string — guard it to an empty set).
    def dels(s: Column): Column =
      when(length(s) >= 1,
        transform(sequence(lit(1), length(s)), i =>
          concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s) - i))))
        .otherwise(array().cast("array<string>"))
    def variants(s: Column): Column = {
      val d1 = dels(s)
      val all =
        if (maxDist == 1) concat(array(s), d1)
        else concat(array(s), d1, flatten(transform(d1, x => dels(x))))
      array_distinct(all)
    }
    df.select(df(strCol).as("__graft_s")).na.drop().distinct()
      .select(col("__graft_s"), explode(variants(col("__graft_s"))).as("__graft_key"))
  }

  /** [[fuzzyJoin]] specialized to near-duplicate string pairs WITHIN one
    * frame: distinct unordered pairs `a < b` within `maxDist` — the typo /
    * OCR-noise clustering primitive (feed the pairs to
    * [[Dedup.connectedComponents]] like any other candidate generator).
    *
    * Not a delegation to [[fuzzyJoin]]: the `a < b` filter runs INSIDE the
    * variant join, which (a) drops every self-match before the dedup —
    * each string meets itself in ALL of its O(len^k) variants, the single
    * biggest candidate class of a self-join — and (b) halves the genuine
    * candidates (each unordered pair would otherwise arrive in both
    * orders). Measured 2x+ on a 300k-name corpus.
    */
  def fuzzySelfPairs(df: DataFrame, strCol: String, maxDist: Int = 1): DataFrame = {
    val v0 = fuzzyVariants(df, strCol, maxDist)
    // Share the ONE variant-generation pass between the two sides of the
    // self-join: generating the deletion neighborhood is the expensive map
    // (O(len^k) substring builds per string), and both join inputs are the
    // SAME frame — a lazy local checkpoint materializes its partitions as a
    // side effect of the first side's scan, and the second side reads raw
    // block-manager rows instead of re-running scan + distinct + explode.
    // (Same mechanism as Graphs.projectBipartite's shared membership scan;
    // a columnar `.cache()` costs more than the rescan it saves on frames
    // of this shape.)
    val v = LakeDataset.shareScan(v0)
    v.select(col("__graft_s").as("name_a"), col("__graft_key"))
      .join(v.select(col("__graft_s").as("name_b"), col("__graft_key")),
        "__graft_key")
      .filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b")
      .distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
  }

  /** Co-located inner equi-join of two lake datasets hash-bucketed on their
    * join keys with the SAME bucket count: join bucket-by-bucket and union.
    * Each sub-join handles only 1/nBuckets of either side, so AQE sizes (and
    * can broadcast) every bucket independently, and with cells stored
    * co-located the per-bucket shuffles are node-local — the in-memory
    * mutable-table analogue of Spark's metastore bucketed-join (which is
    * unavailable for live [[LakeDataset]] parts). This mirrors how the
    * dataset's own upsert routing turns one giant merge join into per-cell
    * joins (SURVEY §4 "bucketed layout" row).
    *
    * Inner-only by design: rows with NULL keys live in the sentinel bucket
    * cells and never match an inner join, so skipping them is exact; outer
    * variants would need the null cells re-attached and are not offered.
    *
    * Correctness rests on both sides using the same bucket function —
    * enforced by requiring each dataset's bucket column to BE its join key
    * and the bucket counts to match ([[graft.functions.Bucketing]] hashes by
    * column type, so the key columns must share a type; mismatched types
    * fail the join analysis anyway).
    */
  def coLocatedJoin(
      left: graft.lake.LakeDataset, right: graft.lake.LakeDataset,
      leftKey: String, rightKey: String): DataFrame = {
    require(left.bucketCols.headOption.contains(leftKey),
      s"left dataset must be bucketed by $leftKey (is: ${left.bucketCols})")
    require(right.bucketCols.headOption.contains(rightKey),
      s"right dataset must be bucketed by $rightKey (is: ${right.bucketCols})")
    require(left.nBuckets == right.nBuckets,
      s"bucket counts differ: ${left.nBuckets} vs ${right.nBuckets}")
    (0 until left.nBuckets).map { b =>
      val l = left.bucketCells(b)
      val r = right.bucketCells(b)
      if (leftKey == rightKey) l.join(r, Seq(leftKey))
      else l.join(r, l(leftKey) === r(rightKey))
    }.reduce(_ unionByName _)
  }
}
