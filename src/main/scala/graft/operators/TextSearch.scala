package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.Bucketing
import graft.lake.LakeDataset
import graft.model.StorageSpec

/** Full-text search over a document corpus through a LAKE-BACKED inverted
  * index — the retrieval half of a training-data pipeline (corpus search,
  * example mining, decontamination probes) at shapes where scanning the
  * text column per query is not an option.
  *
  * Index layout: one postings table `(w, doc, tf, dl)` — term, document id,
  * term frequency, document length — stored as a [[graft.lake.LakeDataset]]
  * hash-BUCKETED on `w`. Every posting of a term lives in exactly one of
  * `nBuckets` bucket cells, so a query's scan is the union of at most
  * |distinct query terms| cells, pruned from the catalog with zero I/O
  * (driver-side bucket ids — [[Bucketing.localBucketId]]). That is the
  * 100 TB story: query cost is proportional to the postings of the queried
  * terms (÷ nBuckets of the index), never to corpus size. Because a term's
  * postings are CO-LOCATED in one cell, per-term document frequencies are
  * computable from the pruned scan alone — no separate df table to keep
  * consistent.
  *
  * Scoring is BM25 (Robertson-Spärck Jones): idf(t) · tf·(k1+1) /
  * (tf + k1·(1−b+b·dl/avgdl)). The float scorer is the production path;
  * [[searchTopKInt]] is an exact-integer surrogate (same shape, integer
  * idf/saturation ladders) whose every division is integer division, so the
  * DuckDB oracle reproduces it bit-for-bit (same stance as
  * [[TextAnalysis.tfIdfTopTermsInt]]; ln() differs at ulp level across
  * libms).
  *
  * The reference repo has no text search; tokenization deliberately matches
  * its whitespace convention used throughout this repo's text operators.
  */
object TextSearch {

  /** A built index: the postings lake plus the two corpus scalars BM25
    * needs (document count and total token count — avgdl = totalLen/n).
    */
  final case class Bm25Index(postings: LakeDataset, n: Long, totalLen: Long) {
    def nBuckets: Int = postings.nBuckets
  }

  /** Batch-number partition column of the BM25 postings lake. */
  val BatchCol = "_b"

  /** One posting row per (document, term): tf, plus the document length
    * denormalized onto every posting (dl via a window over the tf frame —
    * no second corpus scan, and queries never need a doc-side join).
    */
  def postings(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df
      .select(col(idCol).as("doc"), explode(split(trim(col(textCol)), " ")).as("w"))
      .groupBy("doc", "w").agg(count(lit(1)).as("tf"))
    tf.withColumn("dl", sum("tf").over(Window.partitionBy("doc")))
  }

  /** Build the index: one pass corpus → postings, one tiny aggregate for
    * the corpus scalars, one bucketed ingest. With `storage` set the
    * postings persist under its root (manifest + bucket cells) and
    * [[open]] can rebuild the index without the corpus.
    */
  def buildIndex(
      spark: SparkSession,
      df: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int = 16,
      storage: Option[StorageSpec] = None): Bm25Index = {
    // Partitioned by batch number on top of the term bucketing: every
    // append lands in FRESH (_b, bucket) cells, so incremental adds are
    // durable one-pass writes that never rewrite existing cells (the
    // incremental-index layout used across this repo; compact() folds
    // batches when they accumulate).
    val posts = postings(df, textCol, idCol).withColumn(BatchCol, lit(0L))
    // Bloom filters on `doc` as well as the term bucketing: queries prune by
    // bucket id on `w`; ERASURE deletes by `doc`, whose ids are scattered
    // across every (batch, bucket) cell — the per-cell doc blooms let
    // [[removeFromIndex]]'s delete and its `gone` aggregate resolve the
    // touched cells driver-side, erase cost ∝ touched cells, never ∝ corpus.
    val lake = LakeDataset.fromDataFrame(spark, posts,
      partitionCols = Seq(BatchCol),
      bucketCols = Seq("w"), nBuckets = nBuckets, storage = storage,
      bloomCols = Seq("doc"))
    storage.foreach(_ => lake.toStorage())
    withStats(lake)
  }

  /** Reopen a persisted index. The corpus scalars are re-derived from the
    * postings themselves (n = distinct docs, totalLen = Σtf — one small
    * aggregate over the index, not the corpus), so no side metadata file
    * can drift from the data.
    */
  def open(spark: SparkSession, root: String): Bm25Index =
    withStats(LakeDataset.fromStorage(spark, root))

  private def withStats(lake: LakeDataset): Bm25Index = {
    // Each doc's dl repeats on every posting; sum tf once per doc instead.
    val row = lake.toDF
      .groupBy("doc").agg(sum("tf").as("len"))
      .agg(count(lit(1)).as("n"), sum("len").as("l"))
      .head()
    Bm25Index(lake, row.getLong(0), row.getLong(1))
  }

  /** Incremental maintenance: append a batch of NEW documents to the
    * index. The batch's postings route into the existing bucket cells
    * (durable one-pass append when the index is storage-backed — no
    * rewrite of existing cells), and the corpus scalars update from one
    * tiny batch aggregate. Per-term df needs no maintenance at all: it is
    * derived from the pruned scan at query time, so it is correct the
    * moment the cells land. Contract: doc ids must be new (re-adding a
    * document double-counts — dedup upstream, as with any append-only
    * search index).
    */
  def addToIndex(
      index: Bm25Index,
      df: DataFrame,
      textCol: String,
      idCol: String): Bm25Index = {
    val nextB = index.postings.partKeys
      .flatMap(_.partValues.collect { case (BatchCol, v) => v.toLong })
      .foldLeft(-1L)(math.max) + 1L
    val posts0 = postings(df, textCol, idCol).withColumn(BatchCol, lit(nextB))
    // The batch's postings plan (tokenize + explode + tf aggregate + dl
    // window over the batch source) is consumed TWICE — the corpus-scalar
    // aggregate below and the cell write. A lazy local checkpoint runs it
    // once: the aggregate materializes the partitions as its own job's side
    // effect and the write reads raw block-manager rows. On a streaming
    // ingest (one addToIndex per epoch) this halves the per-epoch batch
    // passes. Same mechanism as Graphs.projectBipartite.
    val posts = LakeDataset.shareScan(posts0)
    val row = posts
      .groupBy("doc").agg(sum("tf").as("len"))
      .agg(count(lit(1)).as("n"), sum("len").as("l"))
      .head()
    if (row.getLong(0) == 0L) return index
    if (index.postings.storage.isDefined) index.postings.insertWritten(posts)
    else index.postings.insert(posts)
    Bm25Index(index.postings, index.n + row.getLong(0),
      index.totalLen + row.getLong(1))
  }

  /** Index erasure, the DELETE side of [[addToIndex]]: drop documents from
    * the inverted index by id (GDPR erasure, content retraction, corpus
    * re-curation). One semi-join measures the doomed docs' contribution to
    * the corpus scalars BEFORE the delete (n and totalLen update by exact
    * integer subtraction — the same numbers [[open]] would re-derive from
    * the surviving postings); the lake's key-routed delete rewrites only
    * the (batch, term-bucket) cells that actually held a doomed doc's
    * postings, located by the same pruning probe the delete itself uses —
    * untouched bucket directories keep their files byte-identical. Per-term
    * df needs no maintenance: it derives from the pruned scan at query
    * time, so it is correct the moment the cells land.
    */
  def removeFromIndex(index: Bm25Index, ids: DataFrame, idCol: String): Bm25Index = {
    val spark = index.postings.spark
    val keyed = ids.select(col(idCol).as("doc")).distinct()
    // Touched-cell `gone` statistics: collect the doomed ids ONCE (capped —
    // over the cap fail open to the full scan, which a batch that big
    // amortizes) and compute the docs' (count, Σtf) from a PRE-DELETE read
    // pruned by the doc blooms/zones in the catalog, instead of scanning
    // the whole postings lake per erase batch. The same local id frame then
    // feeds the delete, whose own locate resolves driver-side on the same
    // membership axis — the erase never reads an untouched cell.
    val cap = LakeDataset.MaxDriverProbeKeys
    val collected: Option[Array[org.apache.spark.sql.Row]] = {
      val rows = keyed.limit(cap + 1).collect()
      if (rows.length > cap) None else Some(rows)
    }
    val (keyFrame, pruned) = collected match {
      case Some(rows) =>
        val local = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), keyed.schema)
        val base =
          if (rows.isEmpty) index.postings.toDF.limit(0)
          else if (keyed.schema("doc").dataType ==
              org.apache.spark.sql.types.LongType)
            index.postings.prunedByLongKeys("doc",
              rows.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toArray)
          else index.postings.prunedByConstraints(Map.empty, Map.empty,
            Map("doc" -> rows.iterator.map(_.get(0)).toSeq))
        (local, base)
      case None => (keyed, index.postings.toDF)
    }
    val gone = pruned
      .join(broadcast(keyFrame), Seq("doc"), "left_semi")
      .groupBy("doc").agg(sum("tf").as("len"))
      .agg(count(lit(1)).as("n"), sum("len").as("l"))
      .head()
    if (gone.getLong(0) == 0L) return index
    val touched = index.postings.delete(keyFrame, Seq("doc"))
    if (touched.nonEmpty && index.postings.storage.isDefined)
      index.postings.saveParts(touched)
    Bm25Index(index.postings, index.n - gone.getLong(0),
      index.totalLen - gone.getLong(1))
  }

  /** Whitespace tokenization of a query, mirroring the index's convention. */
  def queryTerms(query: String): Seq[String] =
    query.trim.split(" ").toSeq.filter(_.nonEmpty).distinct

  /** The pruned postings scan for a term set: bucket ids resolve on the
    * driver (no job), distinct cells union once, then an `IN` filter drops
    * hash-neighbor terms sharing a bucket. Plan = at most |terms| cells of
    * the index, regardless of corpus size.
    */
  def prunedPostings(index: Bm25Index, terms: Seq[String]): DataFrame = {
    val cells = terms
      .flatMap(t => Bucketing.localBucketId(t, StringType, index.nBuckets))
      .distinct
    val scans = cells.map(index.postings.bucketCells)
    val base =
      if (scans.isEmpty) index.postings.toDF.limit(0)
      else scans.reduce(_ unionByName _)
    base.filter(col("w").isin(terms: _*))
  }

  /** BM25 top-k: df per term from the pruned scan (a term's postings are
    * co-located, so the count is exact), broadcast the |terms|-row df table
    * back, score, sum per doc, deterministic top-k (score desc, doc asc via
    * TakeOrdered — no global sort).
    */
  def searchTopK(
      index: Bm25Index,
      query: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val terms = queryTerms(query)
    val p = prunedPostings(index, terms)
    val dfTab = p.groupBy("w").agg(count(lit(1)).as("df"))
    val n = index.n.toDouble
    val avgdl = index.totalLen.toDouble / index.n
    p.join(broadcast(dfTab), "w")
      .withColumn("idf", log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("s",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b / avgdl) * col("dl"))))
      .groupBy("doc").agg(sum("s").as("score"))
      .orderBy(desc("score"), asc("doc"))
      .limit(k)
  }

  // ------------------------------------------------------- phrase search

  /** A positional index: `(doc, w, pos)` — one row per token OCCURRENCE,
    * bucketed on `w` like the BM25 postings. Bigger than the tf index
    * (corpus token count vs distinct (doc,term) count) — the standard
    * positional-index trade for exact phrase queries.
    */
  final case class PositionalIndex(postings: LakeDataset) {
    def nBuckets: Int = postings.nBuckets
  }

  /** One row per token occurrence with its 0-based position. */
  def positionalPostings(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc"),
        posexplode(split(trim(col(textCol)), " ")).as(Seq("pos", "w")))
      .select(col("doc"), col("w"), col("pos").cast("long").as("pos"))

  def buildPositional(
      spark: SparkSession,
      df: DataFrame,
      textCol: String,
      idCol: String,
      nBuckets: Int = 16,
      storage: Option[StorageSpec] = None): PositionalIndex = {
    // Doc blooms for the same reason as [[buildIndex]]: erasure deletes by
    // `doc`, which is scattered across every bucket cell — the blooms make
    // [[removeFromPositional]]'s locate driver-side and touched-cell-bounded.
    val lake = LakeDataset.fromDataFrame(spark, positionalPostings(df, textCol, idCol),
      bucketCols = Seq("w"), nBuckets = nBuckets, storage = storage,
      bloomCols = Seq("doc"))
    storage.foreach(_ => lake.toStorage())
    PositionalIndex(lake)
  }

  def openPositional(spark: SparkSession, root: String): PositionalIndex =
    PositionalIndex(LakeDataset.fromStorage(spark, root))

  /** [[removeFromIndex]] for the positional index: drop every occurrence
    * row of the doomed documents. Same shape — locate the touched
    * (term-bucket) cells with the pruning probe, key-routed delete, one
    * saveParts — and no scalars to maintain (phrase search derives
    * everything from the postings at query time).
    */
  def removeFromPositional(
      index: PositionalIndex, ids: DataFrame, idCol: String): Unit = {
    val keyed = ids.select(col(idCol).as("doc")).distinct()
    val touched = index.postings.delete(keyed, Seq("doc"))
    if (touched.nonEmpty && index.postings.storage.isDefined)
      index.postings.saveParts(touched)
  }

  private def prunedPositional(index: PositionalIndex, terms: Seq[String]): DataFrame = {
    val cells = terms.distinct
      .flatMap(t => Bucketing.localBucketId(t, StringType, index.nBuckets))
      .distinct
    val scans = cells.map(index.postings.bucketCells)
    val base =
      if (scans.isEmpty) index.postings.toDF.limit(0)
      else scans.reduce(_ unionByName _)
    base.filter(col("w").isin(terms.distinct: _*))
  }

  /** Every exact occurrence of the phrase: `(doc, start)` rows. The
    * alignment trick is join-free per term pair — each phrase slot `(w,
    * idx)` joins the pruned postings once (broadcast |phrase| rows), every
    * matched token votes for the start position `pos − idx`, and a start
    * with |phrase| votes is an occurrence: one aggregation, no |phrase|-way
    * self-join, repeated words handled exactly ((doc,pos) rows are unique,
    * so each slot contributes at most one vote per start).
    */
  def phraseOccurrences(index: PositionalIndex, phrase: String): DataFrame = {
    val spark = index.postings.spark
    import spark.implicits._
    val terms = phrase.trim.split(" ").toSeq.filter(_.nonEmpty)
    require(terms.nonEmpty, "empty phrase")
    val slots = terms.zipWithIndex.toDF("w", "idx")
    prunedPositional(index, terms)
      .join(broadcast(slots), "w")
      .select(col("doc"), (col("pos") - col("idx")).as("start"))
      .groupBy("doc", "start").agg(count(lit(1)).as("votes"))
      .filter(col("votes") === terms.length)
      .select("doc", "start")
  }

  /** Docs ranked by exact phrase-occurrence count (desc, doc-id
    * tie-break). All-integer — the DuckDB oracle checks the full ranking.
    */
  def phraseSearchTopK(index: PositionalIndex, phrase: String, k: Int): DataFrame =
    phraseOccurrences(index, phrase)
      .groupBy("doc").agg(count(lit(1)).as("n_occ"))
      .orderBy(desc("n_occ"), asc("doc"))
      .limit(k)

  // ------------------------------------------------------ batch retrieval

  /** Distinct (query_id, term) pairs of a query TABLE (standard BM25:
    * query-side term frequency is ignored).
    */
  private def queryTermRows(queries: DataFrame, textCol: String, idCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"),
        explode(array_distinct(split(trim(col(textCol)), " "))).as("w"))
      .filter(col("w") =!= "")

  /** The postings scan for a whole query table: when the queries' distinct
    * term set is small enough to hold on the driver (`maxPruneTerms` cap),
    * prune to those terms' bucket cells exactly like the single-query
    * path; above the cap, fail OPEN to a full-index semi-join — a batch
    * that big amortizes the scan (the capped-probe stance used across
    * this repo's indexes).
    */
  private def batchPostings(
      index: Bm25Index, qterms: DataFrame, maxPruneTerms: Int): DataFrame = {
    val sample = qterms.select("w").distinct()
      .limit(maxPruneTerms + 1).collect().map(_.getString(0)).toSeq
    if (sample.length <= maxPruneTerms) prunedPostings(index, sample)
    else index.postings.toDF
      .join(qterms.select("w").distinct(), Seq("w"), "left_semi")
  }

  /** BM25 SIMILARITY JOIN: top-k corpus documents for EVERY row of a query
    * table — batch retrieval (mining, decontamination probes, eval-set
    * matching) as one plan instead of a query loop. Shape: query terms
    * explode, meet the (pruned) postings in ONE equi-join on the term,
    * scores sum per (query, doc), and a per-query window keeps k — the
    * text analogue of the IVF batch ANN join (`Similarity.ivfBatchTopK`).
    * Self-matches are kept (a query drawn from the corpus ranks itself
    * first — callers filter if unwanted).
    */
  def searchBatchTopK(
      index: Bm25Index,
      queries: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      maxPruneTerms: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qterms = queryTermRows(queries, textCol, idCol)
    val p = batchPostings(index, qterms, maxPruneTerms)
    val dfTab = p.groupBy("w").agg(count(lit(1)).as("df"))
    val n = index.n.toDouble
    val avgdl = index.totalLen.toDouble / index.n
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("doc"))
    qterms.join(p, "w").join(dfTab, "w")
      .withColumn("idf", log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("s",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b / avgdl) * col("dl"))))
      .groupBy("query_id", "doc").agg(sum("s").as("score"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "doc", "score", "rk")
  }

  /** Exact-integer batch retrieval (same ladders as [[searchTopKInt]]) —
    * the oracle-checked ranking for [[searchBatchTopK]]'s plan.
    */
  def searchBatchTopKInt(
      index: Bm25Index,
      queries: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      maxPruneTerms: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qterms = queryTermRows(queries, textCol, idCol)
    val p = batchPostings(index, qterms, maxPruneTerms)
    val dfTab = p.groupBy("w").agg(count(lit(1)).as("df"))
    val n = index.n
    val l = index.totalLen
    val w = Window.partitionBy("query_id").orderBy(desc("score_int"), asc("doc"))
    qterms.join(p, "w").join(dfTab, "w")
      .withColumn("idf_int",
        expr(s"(1000L * (2L * $n - 2L * df + 1L)) div (2L * df + 1L)"))
      .withColumn("sat_int",
        expr(s"(44L * $l * tf * 1000000L) div (20L * $l * tf + 6L * $l + 18L * dl * $n)"))
      .groupBy("query_id", "doc")
      .agg(sum(col("idf_int") * col("sat_int")).as("score_int"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "doc", "score_int", "rk")
  }

  /** Exact-integer BM25 surrogate (k1=1.2, b=0.75 folded into integer
    * ladders; L = total corpus tokens, N = docs):
    *
    *   idf_int = (1000·(2N − 2·df + 1)) div (2·df + 1)      — monotone in
    *     the real idf's (N−df+0.5)/(df+0.5) odds ratio, exact integers;
    *   sat_int = (44·L·tf·10^6) div (20·L·tf + 6·L + 18·dl·N) — the BM25
    *     saturation term times 2·10^6, derived by multiplying numerator and
    *     denominator by 20·L (so k1=1.2, b=0.75 become the integer
    *     constants 44 = 20·(k1+1), 6 = 20·k1·(1−b), 18 = 20·k1·b);
    *   score_int = Σ_terms idf_int · sat_int.
    *
    * Every step is 64-bit integer arithmetic (`div`), reproducible
    * bit-for-bit by the DuckDB oracle's `//`. Headroom: the sat numerator
    * 44·L·tf·10^6 caps the surrogate at roughly L·tf ≤ 2·10^11 — ample for
    * gate scales; the float [[searchTopK]] is the production scorer.
    */
  def searchTopKInt(index: Bm25Index, query: String, k: Int): DataFrame = {
    val terms = queryTerms(query)
    val p = prunedPostings(index, terms)
    val dfTab = p.groupBy("w").agg(count(lit(1)).as("df"))
    val n = index.n
    val l = index.totalLen
    p.join(broadcast(dfTab), "w")
      .withColumn("idf_int",
        expr(s"(1000L * (2L * $n - 2L * df + 1L)) div (2L * df + 1L)"))
      .withColumn("sat_int",
        expr(s"(44L * $l * tf * 1000000L) div (20L * $l * tf + 6L * $l + 18L * dl * $n)"))
      .groupBy("doc").agg(sum(col("idf_int") * col("sat_int")).as("score_int"))
      .orderBy(desc("score_int"), asc("doc"))
      .limit(k)
  }
}
