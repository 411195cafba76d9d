package graft.gates

import org.apache.spark.sql.functions._

import graft.Fixtures
import graft.Fixtures.table
import graft.operators.{Multimodal, Pq, Recall, Similarity, Sq}

/** Vector search (exact, IVF, PQ, SQ8, filtered, batch, recall) and the
  * multimodal media gates.
  */
private[gates] object AnnGates {
  val gates: Seq[Gate] = Seq(
    Gate("embed_mean_pool", (s, dir) => {
      Similarity.meanPoolRows(table(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "pos")
    }, Sql(
      """SELECT label, CAST(i AS BIGINT) AS pos,
        |  CAST(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 100000) AS BIGINT))
        |       AS BIGINT) AS DOUBLE) / (COUNT(*) * 100000.0) AS m
        |FROM embeddings, range(1, 65) t(i)
        |GROUP BY label, i""".stripMargin)),

    Gate("ann_brute_topk", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      Similarity.bruteForceTopK(e, "embedding", "vec_id", q, 10)
    }, RowsOnly("float32 `CosineF32` fast path", twin = "ann_exact_topk")),

    // Oracle-checkable exact ANN: double cosine quantized to a 1e-6 grid
    // (engine-portable; see Similarity.exactTopKQuantized). The float32
    // CosineF32 fast path keeps its own rows-only entry above.
    Gate("ann_exact_topk", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      Similarity.exactTopKQuantized(e, "embedding", "vec_id", q, 10)
    }, Sql(
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) * 1000000)
        |       AS BIGINT) AS cos_q
        |FROM embeddings, q
        |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin)),

    Gate("ann_ivf_topk", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      // Index built once per SF and reused (Fixtures) — ANN indexes
      // amortize over their query stream.
      val (centroids, assigned) = Fixtures.ivfIndex(s, dir)
      Similarity.ivfTopK(assigned, centroids, "embedding", "vec_id", q, 10, nprobe = 4)
    }, RowsOnly("float cosine + probe subset", twin = "ann_exact_topk"),
      prewarm = Some((s, dir) => { Fixtures.ivfIndex(s, dir); () })),

    // PERSISTED IVF: the index saved as a centroid-partitioned lake dataset,
    // loaded back (no rebuild), then probed across ALL centroids on the
    // quantized-cosine grid — which must equal the exact top-k, so the whole
    // save -> load -> prune -> probe path is oracle-checked (same SQL as
    // ann_exact_topk).
    Gate("ann_ivf_persisted", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      val index = Fixtures.ivfLake(s, dir)
      Similarity.ivfTopKLake(index, "embedding", "vec_id", q, 10,
        nprobe = index.centroids.size, quantize = true)
    }, Sql(
      // Probing ALL inverted lists of the persisted index on the quantized
      // grid IS the exact top-k — same oracle as ann_exact_topk.
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) * 1000000)
        |       AS BIGINT) AS cos_q
        |FROM embeddings, q
        |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.ivfLake(s, dir); () })),

    // INDEX ERASURE: vec_id % 10 == 0 deleted from the persisted inverted
    // lists (removeFromIvf rewrites only the touched list directories),
    // index reloaded from disk, then the all-lists quantized probe must
    // equal the exact top-k over the SURVIVING vectors — so the whole
    // delete -> incremental-save -> reload -> probe path is oracle-checked.
    Gate("ann_ivf_removed", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 1)
        .head().getSeq[Float](1).toSeq
      val index = Fixtures.ivfLakeRemoved(s, dir)
      Similarity.ivfTopKLake(index, "embedding", "vec_id", q, 10,
        nprobe = index.centroids.size, quantize = true)
    }, Sql(
      // Post-erasure probe == exact top-k over the vectors that SURVIVED the
      // removeFromIvf delete (vec_id % 10 == 0 erased, index reloaded).
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 1)
        |SELECT vec_id,
        |  CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) * 1000000)
        |       AS BIGINT) AS cos_q
        |FROM embeddings, q WHERE vec_id % 10 <> 0
        |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.ivfLakeRemoved(s, dir); () })),

    // Erasure through the QUANTIZED lists: the same delete applied to the
    // PQ-coded lake (centroid-partitioned like the float lists), reloaded,
    // then the all-lists ADC + exact-rerank probe equals the exact top-k
    // over the survivors — shares ann_ivf_removed's oracle.
    Gate("ann_ivfpq_removed", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 1)
        .head().getSeq[Float](1).toSeq
      val index = Fixtures.ivfLake(s, dir)
      Pq.ivfPqTopK(Fixtures.ivfPqListsRemoved(s, dir), index.centroids,
        Fixtures.pqModel(s, dir), "embedding", "vec_id", q, 10,
        nprobe = index.centroids.size)
    }, Sql(
      // Same survivors through the PQ-coded lists (ADC + exact rerank).
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 1)
        |SELECT vec_id,
        |  CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) * 1000000)
        |       AS BIGINT) AS cos_q
        |FROM embeddings, q WHERE vec_id % 10 <> 0
        |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.ivfPqListsRemoved(s, dir); () })),

    // Product quantization, ADC-only: 16-byte codes stand in for 256-byte
    // vectors; the scan reads codes alone. Approximate by construction →
    // rows-only; PqSpec pins recall and ann_pq_rerank below is the
    // oracle-checked exact twin.
    Gate("ann_pq_topk", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      val model = Fixtures.pqModel(s, dir)
      Pq.adcTopK(Fixtures.pqEncoded(s, dir), "vec_id", model, q, 10)
    }, RowsOnly("ADC scores are approximate by construction", twin = "ann_pq_rerank"),
      prewarm = Some((s, dir) => { Fixtures.pqEncoded(s, dir); () })),

    // Two-stage PQ search: ADC narrows to k*refine candidates, exact
    // quantized cosine ranks the winners — recovers the exact top-k, so the
    // whole train -> encode -> ADC -> rerank path shares ann_exact_topk's
    // oracle.
    Gate("ann_pq_rerank", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      val model = Fixtures.pqModel(s, dir)
      Pq.rerankTopK(Fixtures.pqEncoded(s, dir), "embedding", "vec_id",
        model, q, k = 10, refine = 10)
    }, Sql(
      // PQ rerank recovers the exact top-k — same oracle as ann_exact_topk.
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) * 1000000)
        |       AS BIGINT) AS cos_q
        |FROM embeddings, q
        |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.pqEncoded(s, dir); () })),

    // Full IVF-PQ: probes prune to nprobe list DIRECTORIES (engine part
    // pruning), ADC-scan 16-byte codes inside them, exact-rerank the
    // survivors. Probe-subset approximate → rows-only; PqSpec pins the
    // all-lists probe == exact top-k.
    Gate("ann_ivfpq_topk", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      val index = Fixtures.ivfLake(s, dir)
      Pq.ivfPqTopK(Fixtures.ivfPqLists(s, dir), index.centroids,
        Fixtures.pqModel(s, dir), "embedding", "vec_id", q, 10, nprobe = 4)
    }, RowsOnly("probe subset + ADC approximation", twin = "ann_pq_rerank"),
      prewarm = Some((s, dir) => { Fixtures.ivfPqLists(s, dir); () })),

    // SQ8 scalar quantization: int8 codes (4x smaller vectors), code-space
    // cosine = exact integer dot/norms + one deterministic division on the
    // 1e-6 grid — approximate vs float cosine (SqSpec pins recall) but a
    // pure function of the data, so the WHOLE quantize+score+rank path has
    // a DuckDB oracle (PQ's ADC path, by contrast, is rows-only).
    Gate("ann_sq8_topk", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      Sq.sq8TopK(Sq.sq8Encode(e, "embedding", "vec_id"), "vec_id", q, 10)
    }, Sql(
      // SQ8: quantization replicated in SQL (elementwise floor + list-order
      // maxabs), code-space cosine from exact integer dot/norms.
      """WITH enc AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(FLOOR(x *
        |      (CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) = 0
        |            THEN 0 ELSE 127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) END)
        |      + 0.5) AS BIGINT)) AS codes
        |  FROM embeddings),
        |q AS (SELECT codes AS qc FROM enc WHERE vec_id = 0),
        |scored AS (
        |  SELECT vec_id,
        |    list_dot_product(codes, qc) AS dot,
        |    list_dot_product(codes, codes) AS nv,
        |    list_dot_product(qc, qc) AS nq
        |  FROM enc, q)
        |SELECT vec_id,
        |  CASE WHEN nv = 0 OR nq = 0 THEN 0
        |       ELSE CAST(round(dot / (sqrt(nv) * sqrt(nq)) * 1000000.0) AS BIGINT) END AS cos_q
        |FROM scored
        |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin)),

    // FILTERED quantized search: the metadata pre-filter composes with the
    // SQ8 code-space scorer — filter before scoring (never post-rank), and
    // because SQ8 scoring is deterministic integer arithmetic the whole
    // filter+quantize+rank path is oracle-checkable (the float IVF filtered
    // path shares ann_filtered_topk's oracle instead).
    Gate("ann_filtered_sq8", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      Sq.sq8TopK(Sq.sq8Encode(e, "embedding", "vec_id", keepCols = Seq("label")),
        "vec_id", q, 10, pred = Some(col("label").isin(2, 7)))
    }, Sql(
      // Filtered SQ8: the sq8 oracle with the predicate applied before
      // scoring — the query vector still comes from the UNFILTERED corpus
      // (vec_id 0), exactly as the engine reads it.
      """WITH enc AS (
        |  SELECT vec_id, label,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(FLOOR(x *
        |      (CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) = 0
        |            THEN 0 ELSE 127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) END)
        |      + 0.5) AS BIGINT)) AS codes
        |  FROM embeddings),
        |q AS (SELECT codes AS qc FROM enc WHERE vec_id = 0),
        |scored AS (
        |  SELECT vec_id,
        |    list_dot_product(codes, qc) AS dot,
        |    list_dot_product(codes, codes) AS nv,
        |    list_dot_product(qc, qc) AS nq
        |  FROM enc, q WHERE label IN (2, 7))
        |SELECT vec_id,
        |  CASE WHEN nv = 0 OR nq = 0 THEN 0
        |       ELSE CAST(round(dot / (sqrt(nv) * sqrt(nq)) * 1000000.0) AS BIGINT) END AS cos_q
        |FROM scored
        |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin)),

    // Batch ANN, exact: top-k for a whole query TABLE on the quantized
    // grid — oracle-checked ground truth for the IVF similarity join below.
    Gate("ann_batch_exact", (s, dir) => {
      val e = table(s, dir, "embeddings")
      Similarity.exactBatchTopKQuantized(
          e.filter(col("vec_id") % 25 === 0), e, "embedding", "vec_id", k = 5)
        .orderBy("query_id", "rk")
    }, Sql(
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 25 = 0),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    CAST(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |         * 1000000) AS BIGINT) AS cos_q
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cos_q,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY cos_q DESC, vec_id) AS BIGINT) AS rk
        |  FROM scored)
        |SELECT query_id, vec_id, cos_q, rk FROM ranked WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin)),

    // FILTERED vector search, exact ground truth: top-k over only the rows
    // passing a metadata predicate, scored on the oracle-portable 1e-6
    // cosine grid. The filter lands on the scan (pre-filter), never on the
    // ranked result — a post-filtered top-k could return < k survivors.
    Gate("ann_filtered_topk", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      Similarity.exactTopKQuantized(
        e.filter(col("label").isin(2, 7)), "embedding", "vec_id", q, 10)
    }, Sql(
      // Filtered vector search: same grid, predicate applied BEFORE ranking.
      // ann_filtered_ivf (all-lists probe + pushed filter) must reproduce the
      // same rows, so both share this oracle.
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) * 1000000)
        |       AS BIGINT) AS cos_q
        |FROM embeddings, q WHERE label IN (2, 7)
        |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin)),

    // Filtered search THROUGH the persisted IVF index: the predicate is
    // pushed into the probed inverted lists' parquet scans (PushedFilters —
    // pinned in OperatorsSpec), so part pruning and row-group filtering
    // compose. All-lists probe on the quantized grid == the exact filtered
    // top-k, so the whole filter-pushdown probe path shares
    // ann_filtered_topk's DuckDB oracle.
    Gate("ann_filtered_ivf", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      val index = Fixtures.ivfLake(s, dir)
      Similarity.ivfTopKLake(index, "embedding", "vec_id", q, 10,
        nprobe = index.centroids.size, quantize = true,
        pred = Some(col("label").isin(2, 7)))
    }, Sql(
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe) * 1000000)
        |       AS BIGINT) AS cos_q
        |FROM embeddings, q WHERE label IN (2, 7)
        |ORDER BY cos_q DESC, vec_id LIMIT 10""".stripMargin)),

    // Batch ANN through the IVF lists: every query meets only its nprobe
    // probed lists via a centroid equi-join — a similarity JOIN, not
    // |queries| single scans. Float cosine + probe subset → rows-only;
    // OperatorsSpec measures recall against ann_batch_exact.
    Gate("ann_batch_ivf", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val (centroids, assigned) = Fixtures.ivfIndex(s, dir)
      Similarity.ivfBatchTopK(
          e.filter(col("vec_id") % 25 === 0), assigned, centroids,
          "embedding", "vec_id", k = 5, nprobe = 5)
        .orderBy("query_id", "rk")
    }, RowsOnly("float cosine + probe subset", twin = "ann_batch_exact"),
      prewarm = Some((s, dir) => { Fixtures.ivfIndex(s, dir); () })),

    // RECALL GATE for the approximate IVF path: measured recall@5 of the
    // nprobe=5 batch probe against the exact twin, judged against a 0.60
    // floor (measured 0.71 at sf0.01) — a quantizer/probe regression flips
    // the status row and hash-mismatches; the oracle derives the truth
    // count from the exact twin's own SQL. Plumbing twins can't see a
    // QUALITY drop; this gate exists exactly for that.
    Gate("ann_recall_ivf", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") % 25 === 0)
      val (centroids, assigned) = Fixtures.ivfIndex(s, dir)
      val approx = Similarity.ivfBatchTopK(queries, assigned, centroids,
        "embedding", "vec_id", k = 5, nprobe = 5)
      val exact = Similarity.exactBatchTopKQuantized(queries, e,
        "embedding", "vec_id", k = 5)
      Recall.gate(approx, exact, Seq("query_id", "vec_id"),
        minPermille = 600, minTruth = 50)
    }, Sql(
      // Recall gates: the healthy state is the literal 'ok' status plus the
      // exact twin's own cardinality — a recall regression in the
      // approximate path flips the status and hash-mismatches; a fixture
      // break flips it to truth_too_small or moves the count.
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 25 = 0),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    CAST(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |         * 1000000) AS BIGINT) AS cos_q
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY cos_q DESC, vec_id) AS rk
        |  FROM scored)
        |SELECT 'ok' AS status,
        |  CAST((SELECT COUNT(*) FROM ranked WHERE rk <= 5) AS BIGINT) AS truth""".stripMargin)),

    // RECALL GATE for the PQ ADC scan: recall@10 of the 16x256 ADC ranking
    // against the exact top-10 (measured 0.8 at sf0.01; floor 0.60). The
    // rerank path recovers exactness (ann_pq_rerank); this pins the raw
    // code-space scan's quality.
    Gate("ann_recall_pq", (s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      val model = Fixtures.pqModel(s, dir)
      val approx = Pq.adcTopK(Fixtures.pqEncoded(s, dir), "vec_id", model, q, 10)
      val exact = Similarity.exactTopKQuantized(e, "embedding", "vec_id", q, 10)
      Recall.gate(approx, exact, Seq("vec_id"),
        minPermille = 600, minTruth = 10)
    }, Sql(
      """WITH q AS (
        |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |topk AS (
        |  SELECT vec_id FROM embeddings, q
        |  ORDER BY CAST(round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe)
        |       * 1000000) AS BIGINT) DESC, vec_id LIMIT 10)
        |SELECT 'ok' AS status,
        |  CAST((SELECT COUNT(*) FROM topk) AS BIGINT) AS truth""".stripMargin)),

    // Integer byte-slot features through the typed mapPartitions decode seam
    // — exactly reproducible in SQL (the float feature path stays spec-only:
    // float accumulation order isn't portable, and an array column can't
    // hash-compare anyway).
    Gate("multimodal_features", (s, dir) => {
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(table(s, dir, "documents"))
        .as[Multimodal.MediaRow]
      Multimodal.byteSlotFeatures(media).toDF()
        .select(col("media_id"), col("n_bytes"), col("slot").cast("long").as("slot"),
          col("byte_sum"))
        .orderBy("media_id", "slot")
    }, Sql(
      """WITH pos AS (
        |  SELECT doc_id, LENGTH(text) AS len, text,
        |         unnest(generate_series(1, LENGTH(text))) AS i
        |  FROM documents)
        |SELECT doc_id AS media_id, CAST(len AS BIGINT) AS n_bytes,
        |       CAST((i - 1) % 16 AS BIGINT) AS slot,
        |       CAST(SUM(ascii(substr(text, CAST(i AS INTEGER), 1))) AS BIGINT) AS byte_sum
        |FROM pos GROUP BY 1, 2, 3""".stripMargin)),

    // Perceptual-hash near-dup detection over media payloads: every tenth
    // document replays with a length-preserving byte perturbation
    // (translate e->f); pairs within hamming 3 of the 32-bit dHash-shaped
    // hash. Integer arithmetic + COMPLETE chunk bucketing -> the bucketed
    // engine answer equals DuckDB's all-pairs answer bit-for-bit.
    Gate("multimodal_phash_dedup", (s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
      val corpus = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            translate(col("text"), "e", "f").as("text")))
      val media = Multimodal.mediaFromDocuments(corpus)
        .as[Multimodal.MediaRow]
      Multimodal.phashNearDups(media, maxHamming = 3).orderBy("id_a", "id_b")
    }, Sql(
      // multimodal_phash_dedup: the all-pairs SQL answer — the engine's
      // chunk-bucketed candidates are COMPLETE to hamming 3, so the sets match.
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, translate(text, 'e', 'f')
        |  FROM documents WHERE doc_id % 10 = 0),
        |pos AS (
        |  SELECT doc_id, LENGTH(text) AS len, text,
        |         unnest(generate_series(1, LENGTH(text))) AS i
        |  FROM corpus),
        |agg AS (
        |  SELECT doc_id, ((i-1) * 33) // len AS w,
        |         SUM(ascii(substr(text, CAST(i AS INTEGER), 1))) AS s,
        |         COUNT(*) AS c
        |  FROM pos GROUP BY 1, 2),
        |bits AS (
        |  SELECT a.doc_id,
        |         (CASE WHEN a.s * b.c < b.s * a.c THEN CAST(1 AS BIGINT) ELSE 0 END
        |            << CAST(a.w AS INTEGER)) AS bit
        |  FROM agg a JOIN agg b ON b.doc_id = a.doc_id AND b.w = a.w + 1
        |  WHERE a.w < 32),
        |hashes AS (SELECT doc_id, SUM(bit) AS phash FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin)),

    Gate("multimodal_frames", (s, dir) => {
      import s.implicits._
      val media = Multimodal.mediaFromDocuments(table(s, dir, "documents"))
        .as[Multimodal.MediaRow]
      Multimodal.sampleFrames(media, n = 4)
        .select(col("media_id"), col("frame_nr").cast("long").as("frame_nr"),
          length(col("frame")).cast("long").as("frame_bytes"))
        .orderBy("media_id", "frame_nr")
    }, Sql(
      """SELECT media_id, frame_nr,
        |  LEAST(start + 32, len) - start AS frame_bytes
        |FROM (
        |  SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_nr,
        |         (CAST(LENGTH(text) AS BIGINT) * i) // 4 AS start,
        |         CAST(LENGTH(text) AS BIGINT) AS len
        |  FROM documents, generate_series(0, 3) t(i)
        |  WHERE LENGTH(text) > 0) s""".stripMargin))
  )
}
