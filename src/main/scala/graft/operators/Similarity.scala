package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeDataset
import graft.model.StorageSpec

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — one narrow scan, no shuffle, the
  * dot product runs as codegen'd higher-order array functions.
  *
  * Scale path: IVF (inverted-file) index — k centroids (deterministic
  * sample + one Lloyd refinement, all as DataFrame ops), every vector
  * assigned to its nearest centroid; queries probe only the `nprobe` nearest
  * centroids' lists, cutting the scan to ~nprobe/k of the corpus. At 100 TB
  * the assignment column becomes the partition key so a probe touches only
  * matching files.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double —
    * dispatches to the native codegen'd [[graft.functions.CosineF32]]
    * expression (the composed HOF formulation, kept below as
    * [[cosineHof]], runs interpreted; see SCALING.md).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineF32(a, b)

  /** Reference HOF formulation of cosine — works on any numeric array type
    * (used where one side is an `array<double>` centroid literal); bit-
    * identical to [[cosine]] on float arrays.
    */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))
    when(na === 0 || nb === 0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** Cosine of a vector column against a fixed query vector. */
  def cosineToQuery(vec: Column, query: Seq[Float]): Column =
    cosine(vec, array(query.map(q => lit(q)): _*))

  /** Exact top-k by QUANTIZED double cosine: the similarity is computed in
    * double precision and rounded to a 1e-6 grid, which puts the result on
    * an engine-portable lattice (double summation-order differences are
    * ~1e-15, six orders below the grid) — this is the oracle-checkable
    * variant of [[bruteForceTopK]]. Ordering ties on the grid break by id.
    */
  def exactTopKQuantized(
      df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame = {
    val qLit = array(query.map(q => lit(q.toDouble)): _*)
    df.select(col(idCol),
        round(cosineHof(col(vecCol), qLit) * 1000000).cast("long").as("cos_q"))
      .orderBy(desc("cos_q"), col(idCol))
      .limit(k)
  }

  /** Brute-force cosine top-k: exact baseline. TakeOrdered over the scan —
    * no shuffle, no materialization beyond k rows per partition.
    */
  def bruteForceTopK(
      df: DataFrame, vecCol: String, idCol: String,
      query: Seq[Float], k: Int): DataFrame =
    df.select(col(idCol), cosineToQuery(col(vecCol), query).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)

  /** Per-group mean-pooled embedding, exploded form: one row per (group,
    * position) with the element mean — the distributed shape for class
    * centroids / document pooling. Elements are quantized to a 1e-5 grid
    * (`round` of identical doubles — engine-portable, unlike float→decimal
    * casts whose shortest-vs-exact representation rounding diverges) and
    * summed exactly as longs, so the mean is aggregation-order independent
    * and oracle-reproducible.
    */
  def meanPoolRows(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos0", "v")))
      .groupBy(col(groupCol), (col("pos0") + 1).cast("long").as("pos"))
      .agg((sum(round(col("v").cast("double") * 100000).cast("long")).cast("double")
        / (count(lit(1)) * 100000.0)).as("m"))

  /** Assign every vector to its nearest centroid (id of the argmax-cosine
    * centroid). `centroids` is a small broadcast list (cid, vector).
    *
    * The per-centroid cosine goes through the codegen'd [[cosine]]
    * expression with the centroid cast to a float-array literal — k
    * interpreted HOF folds per row made this the dominant cost of
    * buildIvf/ivfTopK (each evaluation re-walks the vector; at k=16 that is
    * 16 interpreted loops per row per pass). Float-rounding the centroid
    * moves an assignment only on near-exact ties, which IVF tolerates by
    * construction (nprobe > 1).
    */
  def assignToCentroids(
      df: DataFrame, vecCol: String,
      centroids: Seq[(Int, Seq[Double])]): DataFrame =
    // ONE codegen'd argmax over the whole centroid matrix. The old
    // array_max-of-structs form emitted k inlined cosine loops in a single
    // generated method; at k ≈ 80 that crosses HotSpot's JIT size limit
    // and the stage runs interpreted (measured 20s for a 60k × 80
    // assignment; this expression does it in ~1s). Identical arithmetic
    // and tie-break — CentroidArgmaxSpec pins bit-equality to the
    // composed form.
    df.withColumn("centroid",
      graft.functions.CentroidArgmax(col(vecCol), centroids))

  /** Hash-ordered deterministic sample of `n` vectors, driver-resident. */
  private def sampleVectors(
      df: DataFrame, vecCol: String, idCol: String, n: Int): Array[Array[Double]] = {
    val sample = df
      .orderBy(pmod(xxhash64(col(idCol)), lit(999983L)), col(idCol))
      .select(col(vecCol)).limit(n).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "cannot seed centroids from an empty table")
    sample
  }

  private def cosLocal(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < math.min(a.length, b.length)) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Greedy maximin (farthest-point) selection over a local sample. */
  private def maximinSeeds(
      sample: Array[Array[Double]], k: Int): Seq[Array[Double]] = {
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    val minDist = Array.fill(sample.length)(Double.MaxValue)
    while (chosen.size < math.min(k, sample.length)) {
      val last = sample(chosen.last)
      var best = -1; var bestD = -1.0
      var i = 0
      while (i < sample.length) {
        val d = 1.0 - cosLocal(sample(i), last)
        if (d < minDist(i)) minDist(i) = d
        if (minDist(i) > bestD && !chosen.contains(i)) { bestD = minDist(i); best = i }
        i += 1
      }
      if (best < 0) return chosen.toSeq.map(sample)
      chosen += best
    }
    chosen.toSeq.map(sample)
  }

  /** One local Lloyd step over the sample: assign each sample vector to its
    * nearest centroid (cosine; ties keep the LOWER index — refinement-only
    * arithmetic, so it need not mirror the corpus assigner's larger-id
    * tie-break: the final distributed assignment pass alone decides list
    * membership), recompute element-wise means; a centroid whose cluster
    * is empty keeps its previous position (never silently dropped).
    */
  private def localLloydStep(
      sample: Array[Array[Double]], centroids: Seq[Array[Double]], dim: Int)
      : Seq[Array[Double]] = {
    val sums = Array.fill(centroids.length)(new Array[Double](dim))
    val counts = new Array[Long](centroids.length)
    sample.foreach { v =>
      var best = 0; var bestC = Double.MinValue
      var c = 0
      while (c < centroids.length) {
        val s = cosLocal(v, centroids(c))
        if (s > bestC) { bestC = s; best = c }
        c += 1
      }
      counts(best) += 1
      var i = 0
      while (i < math.min(dim, v.length)) { sums(best)(i) += v(i); i += 1 }
    }
    centroids.indices.map { c =>
      if (counts(c) == 0L) centroids(c)
      else sums(c).map(_ / counts(c))
    }
  }

  /** Build an IVF "index": `numCentroids` farthest-point seeds refined by
    * `lloydIters` LOCAL Lloyd steps over a bounded hash-ordered sample
    * (max(1024, 64·k) vectors), then ONE distributed assignment pass over
    * the corpus. Returns (centroids, assignedDf with `centroid` column).
    *
    * Refinement deliberately runs on the sample, not the corpus: a full
    * Lloyd pass costs |corpus|·k cosine evaluations, and with the list
    * count growing ∝ corpus that is quadratic in data — the measured build
    * at 30× was 3 corpus passes ≈ 45s where one pass suffices. Clustering
    * QUALITY comes from the sample's spread (k-means over a uniform sample
    * is the standard big-data formulation); correctness never depends on
    * centroid quality at all — probes are exact within their lists, and
    * the all-lists == exact-top-k oracle holds for ANY clustering.
    */
  def buildIvf(
      df: DataFrame, vecCol: String, idCol: String,
      numCentroids: Int, dim: Int, lloydIters: Int = 2): (Seq[(Int, Seq[Double])], DataFrame) = {
    val sample = sampleVectors(df, vecCol, idCol,
      math.max(1024, numCentroids * 64))
    val seeds = maximinSeeds(sample, numCentroids)
    val refined = (1 to lloydIters).foldLeft(seeds)(
      (cs, _) => localLloydStep(sample, cs, dim))
    val centroids = refined.zipWithIndex.map { case (v, ci) => ci -> v.toSeq }
    (centroids, assignToCentroids(df, vecCol, centroids))
  }

  /** The `nprobe` centroid ids closest to the query by cosine (driver-side
    * over the small centroid list; ties break by id).
    */
  def probeCentroids(
      centroids: Seq[(Int, Seq[Double])], query: Seq[Float], nprobe: Int): Seq[Int] = {
    val qd = query.map(_.toDouble)
    def cos(c: Seq[Double]): Double = {
      val dot = c.zip(qd).map { case (x, y) => x * y }.sum
      val nc = math.sqrt(c.map(x => x * x).sum)
      val nq = math.sqrt(qd.map(x => x * x).sum)
      if (nc == 0 || nq == 0) 0.0 else dot / (nc * nq)
    }
    centroids.sortBy { case (cid, c) => (-cos(c), cid) }.take(nprobe).map(_._1)
  }

  /** IVF top-k: probe only the `nprobe` centroids closest to the query,
    * scan just their inverted lists, exact cosine inside.
    */
  def ivfTopK(
      assigned: DataFrame, centroids: Seq[(Int, Seq[Double])],
      vecCol: String, idCol: String,
      query: Seq[Float], k: Int, nprobe: Int): DataFrame = {
    val probes = probeCentroids(centroids, query, nprobe)
    assigned
      .filter(col("centroid").isin(probes: _*))
      .select(col(idCol), cosineToQuery(col(vecCol), query).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** A PERSISTED IVF index: the driver-side centroid list plus the
    * centroid-assigned corpus as a lake dataset PARTITIONED BY `centroid` —
    * the 100 TB layout, where each inverted list is a partition directory
    * and a probe plans only its `nprobe` directories (engine part pruning;
    * nothing else is even opened). Both halves live under one root
    * (`root/centroids`, `root/assigned`) with manifests, so the index
    * amortizes across SESSIONS, not just across queries within one.
    */
  final case class IvfLake(centroids: Seq[(Int, Seq[Double])], assigned: LakeDataset)

  /** Persist a built IVF index ([[buildIvf]] output) under `root`. The
    * assigned table goes through [[LakeDataset#insertWritten]]: one routing
    * aggregation + one dynamic-partition write laying out every inverted
    * list, with the written directories registering directly as disk-backed
    * parts — the generic snapshot-then-save path re-planned the corpus once
    * per cell and measured ~60s where this takes one job.
    */
  def saveIvf(
      spark: SparkSession, root: String,
      centroids: Seq[(Int, Seq[Double])], assigned: DataFrame,
      idCol: String = "vec_id"): Unit = {
    import spark.implicits._
    val cdf = centroids.toDF("cid", "cvec")
    LakeDataset.fromDataFrame(spark, cdf,
      storage = Some(StorageSpec(s"$root/centroids"))).toStorage()
    // Materialize BEFORE wiping the root: a save-over-own-root (e.g.
    // re-saving a loaded index's table) has a plan whose file scan reads
    // the very directory about to be deleted — the snapshot must execute
    // while those files still exist (the generic toStorage path guards the
    // same hazard with backedByRoot + compact()). It also runs the
    // expensive centroid-argmax plan ONCE instead of per insertWritten job.
    val snap = assigned.localCheckpoint(true)
    LakeDataset.deleteRecursively(java.nio.file.Paths.get(s"$root/assigned"))
    // Per-list Bloom filters on the vector id: [[removeFromIvf]]'s delete
    // then resolves its touched lists DRIVER-SIDE from the catalog (the
    // ids are hash-scattered, so zones can never skip a list) — erase cost
    // ∝ touched lists with zero locate scan, the same membership axis the
    // incremental dedup indexes carry on their key columns.
    val bloomIds = if (assigned.columns.contains(idCol)) Seq(idCol) else Nil
    LakeDataset.forStorage(spark,
        partitionCols = Seq("centroid"), bucketCols = Nil, nBuckets = 0,
        bloomCols = bloomIds, storage = StorageSpec(s"$root/assigned"))
      .insertWritten(snap)
  }

  /** Load a persisted IVF index — no rebuild, no Lloyd pass: the centroid
    * table collects (it is `numCentroids` rows) and the inverted lists stay
    * on disk until a probe prunes to them.
    */
  def loadIvf(spark: SparkSession, root: String): IvfLake = {
    val centroids = LakeDataset.fromStorage(spark, s"$root/centroids").toDF
      .select("cid", "cvec").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1).toSeq
    IvfLake(centroids, LakeDataset.fromStorage(spark, s"$root/assigned"))
  }

  /** Incremental index maintenance: route NEW vectors to their nearest
    * existing centroid and append them to the matching inverted lists — no
    * re-clustering, no rebuild, cost ∝ batch. Only the touched partition
    * directories save (the lake's incremental per-part save); untouched
    * lists keep their files byte-identical. This is how a production IVF
    * index absorbs a continuous embedding stream — re-clustering is a
    * periodic offline job ([[buildIvf]]), not an ingest-path one.
    */
  def addToIvf(index: IvfLake, batch: DataFrame, vecCol: String): Unit = {
    val routed = assignToCentroids(batch, vecCol, index.centroids)
    val before = index.assigned.partKeys.toSet
    index.assigned.insert(routed)
    // save touched cells: new parts, plus existing parts the batch routed into
    val touched = routed.select("centroid").distinct().collect()
      .map(_.get(0).toString).toSet
    index.assigned.saveParts(index.assigned.partKeys
      .filter(k => !before.contains(k) ||
        k.partValues.exists { case (c, v) => c == "centroid" && touched(v) }))
  }

  /** Index maintenance, the DELETE side of [[addToIvf]]: drop vectors by
    * id from their inverted lists (GDPR erasure, content retraction,
    * corpus re-curation). The delete batch first probes which lists hold
    * a doomed id (one semi-join — the batch side broadcasts; a delete
    * batch is operator-sized, not corpus-sized), the lake routes the
    * anti-join delete, and ONLY the touched list directories rewrite —
    * untouched lists keep their files byte-identical, mirroring the add
    * path's incremental save.
    */
  def removeFromIvf(index: IvfLake, ids: DataFrame, idCol: String): Unit = {
    val keyed = ids.select(col(idCol)).distinct()
    // delete() locates the lists holding a doomed id itself and RETURNS
    // them — the previous explicit semi-join probe re-scanned the whole
    // assigned table to compute the same set, i.e. a second full-index
    // pass per erase batch (the 100 TB cost: erase cost must be touched
    // lists, not corpus scans).
    val touched = index.assigned.delete(keyed, Seq(idCol))
    if (touched.nonEmpty) index.assigned.saveParts(touched)
  }

  /** [[addToIvf]] with the maintenance loop CLOSED: after the batch lands,
    * if incremental adds have skewed the lists past `maxSkew`, run the
    * bounded [[reclusterOverflowing]] and return the healed handle —
    * otherwise return the index unchanged. Continuous ingest then heals
    * drift without operator intervention: the monitor fires, only the
    * overflowing lists split (cost ∝ overflow, never a corpus rebuild), and
    * the monitor stands down. `onHeal` observes each heal (metrics,
    * logging). The streaming sink ([[graft.streaming.StreamingIngest
    * .ivfBatches]]) threads the returned handle into the next micro-batch.
    */
  def addToIvfMaintained(
      root: String, index: IvfLake, batch: DataFrame,
      vecCol: String, idCol: String,
      maxSkew: Double = 4.0, splitInto: Int = 4,
      onHeal: IvfLake => Unit = _ => ()): IvfLake = {
    addToIvf(index, batch, vecCol)
    if (needsRecluster(index, maxSkew)) {
      val healed = reclusterOverflowing(root, index, vecCol, idCol, maxSkew, splitInto)
      onHeal(healed)
      healed
    } else index
  }

  /** Exact top-k for a whole TABLE of queries at once, on the quantized
    * 1e-6 cosine grid (oracle-reproducible, like [[exactTopKQuantized]]).
    * The corpus broadcasts against the query stream when small; the
    * per-query ranking is one window. O(|queries|·|corpus|) by contract —
    * the ground truth [[ivfBatchTopK]] is measured against.
    */
  def exactBatchTopKQuantized(
      queries: DataFrame, corpus: DataFrame,
      vecCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos_q"), col("vec_id"))
    // codegen'd CosineF32 (double accumulation, bit-identical to the HOF
    // form — OperatorsSpec pins it) keeps the |q|·|corpus| hot loop inside
    // whole-stage codegen.
    q.join(c, col("query_id") =!= col("vec_id"))
      .withColumn("cos_q",
        round(cosine(col("qv"), col("cv")) * 1000000).cast("long"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cos_q", "rk")
  }

  /** Batched IVF top-k: every query probes its `nprobe` nearest centroids;
    * queries meet ONLY their probed inverted lists through an equi-join on
    * the centroid id — the scale shape for "embed a new corpus, find
    * nearest neighbors for all of it" (a similarity JOIN, not n single-query
    * scans). One shuffle on the centroid id, one per-query window for the
    * ranking; candidate work is Σ|probed lists|, never |queries|·|corpus|.
    *
    * Centroid assignment of queries runs through the same codegen'd
    * [[cosine]] expression as corpus assignment, so a vector used as a
    * query probes the list it would be indexed into.
    */
  def ivfBatchTopK(
      queries: DataFrame, assigned: DataFrame,
      centroids: Seq[(Int, Seq[Double])],
      vecCol: String, idCol: String, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // rank centroids per query with ONE codegen'd top-nprobe expression
    // (the composed sort-of-k-structs form falls out of JIT past ~80
    // lists — same story as assignToCentroids; CentroidProbes pins
    // order-equality to the composed form in its spec), one explode
    val probes = graft.functions.CentroidProbes(col(vecCol), centroids, nprobe)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(probes).as("centroid"))
    val c = assigned.select(col("centroid"), col(idCol).as("vec_id"),
      col(vecCol).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("vec_id"))
    q.join(c, Seq("centroid"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "vec_id", "cosine", "rk")
  }

  /** Per-list sizes of a persisted index — maintained part counters, no
    * job when the lake is clean. The balance signal for [[needsRecluster]].
    */
  def ivfListSizes(index: IvfLake): Map[Int, Long] =
    index.assigned.partKeys.flatMap { k =>
      k.partValues.collectFirst { case ("centroid", v) =>
        v.toInt -> index.assigned.partRows(k)
      }
    }.toMap

  /** True when incremental adds ([[addToIvf]]) have skewed the inverted
    * lists past `maxSkew` (largest list vs the ideal even split) — the
    * signal to schedule an offline [[buildIvf]] re-cluster. Probing cost is
    * proportional to the probed lists' sizes, so a list at k× the ideal
    * makes its probes k× the work the index was tuned for.
    */
  def needsRecluster(index: IvfLake, maxSkew: Double = 4.0): Boolean = {
    val sizes = ivfListSizes(index).values
    if (sizes.isEmpty || sizes.sum == 0) false
    else {
      val ideal = sizes.sum.toDouble / index.centroids.size
      sizes.max.toDouble / ideal > maxSkew
    }
  }

  /** The remedy [[needsRecluster]] signals for: split each OVERFLOWING
    * inverted list (size > maxSkew × the ideal even share) into new lists
    * (`splitInto` is the minimum fan-out; the actual fan-out adapts to the
    * list's size — see [[splitPass]]), seeding + assigning over ONLY that
    * list's vectors — cost ∝ the overflowing lists, never a full
    * [[buildIvf]] over the corpus. Passes repeat (bounded by `maxPasses`,
    * with a no-progress guard for cosine-degenerate lists that cannot
    * separate) until no list overflows.
    * Untouched lists keep their files byte-identical; each split list's
    * directory is replaced by its sub-lists' directories and the (k×dim)
    * centroid table rewrites. Returns the rebalanced index.
    *
    * Sub-list vectors stay under their old list's sub-centroids (the
    * hierarchical-split compromise): a vector is no longer guaranteed to
    * sit under its globally nearest centroid, which IVF absorbs the same
    * way it absorbs quantization error — through nprobe > 1. The recall
    * spec and the all-lists == exact invariant both hold across a split.
    *
    * Crash windows are benign-by-ordering: new sub-list cells write FIRST,
    * the centroid table second, the old directory drops last — a crash
    * leaves either a superseded centroid table (old cid still routes to the
    * old, still-present list) or an orphaned old directory (its cid is gone
    * from the centroid table, so no probe plans it); re-running the
    * recluster converges either way.
    */
  def reclusterOverflowing(
      root: String, index: IvfLake, vecCol: String, idCol: String,
      maxSkew: Double = 4.0, splitInto: Int = 4, maxPasses: Int = 6): IvfLake = {
    var cur = index
    var lastMax = Long.MaxValue
    var pass = 0
    while (pass < maxPasses) {
      val sizes = ivfListSizes(cur)
      if (sizes.isEmpty || sizes.values.sum == 0) return cur
      val ideal = sizes.values.sum.toDouble / cur.centroids.size
      val overflowing = sizes.filter(_._2 > maxSkew * ideal).keys.toSeq.sorted
      if (overflowing.isEmpty) return cur
      // No-progress guard: a list of cosine-identical vectors can never
      // separate — splitting it again only mints empty centroids (which
      // shrink `ideal` and make the monitor HARDER to satisfy). Stop and
      // leave the monitor honest rather than loop.
      if (sizes.values.max >= lastMax) return cur
      lastMax = sizes.values.max
      cur = splitPass(root, cur, vecCol, idCol, overflowing, splitInto, maxSkew)
      pass += 1
    }
    cur
  }

  /** One split pass of [[reclusterOverflowing]]: replace each list in
    * `overflowing` with sub-lists clustered over only that list's vectors.
    * The fan-out is ADAPTIVE, not fixed: splitting grows the centroid count,
    * which shrinks the monitor's ideal share (total/ncentroids) — a fixed
    * small fan-out therefore chases a receding threshold and can drag
    * untouched lists over it. Instead pick the smallest n whose even split
    * lands sub-lists at ~(maxSkew/2)× the POST-split ideal (self-consistent
    * in the grown count), so one pass usually suffices and the centroid
    * count stays minimal. Degenerate seeds that attract no vectors are
    * dropped from the centroid table: an empty list owns no data but would
    * deflate the ideal and waste probe slots.
    *
    * Crash-safe ordering per the contract above: sub-list cells first,
    * centroid table second, old directories last.
    */
  private def splitPass(
      root: String, index: IvfLake, vecCol: String, idCol: String,
      overflowing: Seq[Int], splitInto: Int, maxSkew: Double): IvfLake = {
    val spark = index.assigned.spark
    val dim = index.centroids.head._2.length
    val sizes = ivfListSizes(index)
    val total = sizes.values.sum.toDouble
    var centroids = index.centroids.filterNot(c => overflowing.contains(c._1))
    var nextId = index.centroids.map(_._1).max + 1
    var cCount = index.centroids.size

    overflowing.foreach { cid =>
      val listDf = index.assigned
        .prunedDF(Map("centroid" -> cid.toString)).drop("centroid")
      val listSize = sizes.getOrElse(cid, 0L).toDouble
      var n = math.max(2, splitInto)
      while (n < 64 && listSize / n > (maxSkew / 2.0) * total / (cCount + n - 1))
        n += 1
      // Seed + Lloyd over just this list; local sub-centroid ids
      // 0..n-1 shift into fresh global ids.
      val (sub, subAssigned) =
        buildIvf(listDf, vecCol, idCol, n, dim, lloydIters = 2)
      val base = nextId
      centroids = centroids ++ sub.map { case (lid, v) => (base + lid) -> v }
      nextId += sub.size
      val before = index.assigned.partKeys.toSet
      index.assigned.insert(
        subAssigned.withColumn("centroid", col("centroid") + lit(base)))
      index.assigned.saveParts(index.assigned.partKeys.filterNot(before))
      cCount += sub.size - 1
    }
    // Drop newly-minted sub-centroids that attracted no vectors (their cell
    // never materialized); original ids keep their table entry regardless.
    val populated: Set[Int] = index.assigned.partKeys.flatMap(_.partValues
      .collectFirst { case ("centroid", v) => v.toInt }).toSet
    val origIds = index.centroids.map(_._1).toSet
    centroids = centroids.filter { case (id, _) =>
      origIds.contains(id) || populated.contains(id) }
    // Rewrite the centroid table, then drop the superseded lists.
    import spark.implicits._
    LakeDataset.fromDataFrame(spark, centroids.sortBy(_._1).toDF("cid", "cvec"),
      storage = Some(StorageSpec(s"$root/centroids"))).toStorage()
    index.assigned.dropParts(index.assigned.partKeys.filter(_.partValues
      .exists { case (c, v) => c == "centroid" && overflowing.contains(v.toInt) }))
    IvfLake(centroids.sortBy(_._1), index.assigned)
  }

  /** IVF top-k over a persisted index: the probe list prunes at the PART
    * level (each probed centroid is one partition directory), so the scan
    * unions exactly `nprobe` inverted lists. `quantize=true` scores on the
    * engine-portable 1e-6 cosine grid of [[exactTopKQuantized]] (column
    * `cos_q`) — with `nprobe = numCentroids` that result is the exact top-k,
    * which is how the persisted path gets an oracle-checked gate query.
    *
    * `pred` is filtered vector search: a metadata predicate over the
    * inverted lists' payload columns, applied to the probed scan BEFORE any
    * cosine is computed. This is PRE-filtering — top-k ranks only the
    * predicate's survivors — not post-filtering an unfiltered top-k, so a
    * selective predicate narrows the candidate set instead of emptying the
    * result. The predicate sits directly on the parquet scans of the probed
    * partition directories, so Spark pushes it into the reader
    * (`PushedFilters`, pinned in OperatorsSpec) and vectors failing it never
    * pay a distance computation: at 100 TB the probe reads `nprobe` lists
    * and decodes only the predicate's row groups, the two prunes composing.
    */
  def ivfTopKLake(
      index: IvfLake, vecCol: String, idCol: String,
      query: Seq[Float], k: Int, nprobe: Int,
      quantize: Boolean = false, pred: Option[Column] = None): DataFrame = {
    val probes = probeCentroids(index.centroids, query, nprobe)
    val pruned = probes
      .map(p => index.assigned.prunedDF(Map("centroid" -> p.toString)))
      .reduce(_ unionByName _)
    val scan = pred match {
      case Some(p) => pruned.filter(p)
      case None    => pruned
    }
    val scored =
      if (quantize) {
        val qLit = array(query.map(q => lit(q.toDouble)): _*)
        scan.select(col(idCol),
          round(cosineHof(col(vecCol), qLit) * 1000000).cast("long").as("cos_q"))
      } else
        scan.select(col(idCol), cosineToQuery(col(vecCol), query).as("cosine"))
    val scoreCol = if (quantize) "cos_q" else "cosine"
    scored.orderBy(desc(scoreCol), col(idCol)).limit(k)
  }
}
