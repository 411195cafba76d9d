package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Fixtures
import graft.Fixtures.table
import graft.operators.{Bpe, Dedup, Fusion, HeavyHitters, Sampling, Sq, TextAnalysis, TextSearch}
import GateHelpers.{dsum, osum, BpeConfigMerges}

/** Text operators: statistics, quality, BPE tokenization, n-gram
  * fingerprints, BM25 and phrase search over the persisted indexes.
  */
private[gates] object TextGates {
  val gates: Seq[Gate] = Seq(
    Gate("text_docfreq", (s, dir) => {
      TextAnalysis.documentFrequency(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("w")
    }, Sql(
      """SELECT w, COUNT(*) AS df FROM (
        |  SELECT DISTINCT doc_id, unnest(string_split(TRIM(text), ' ')) AS w
        |  FROM documents) t
        |GROUP BY w""".stripMargin)),

    // TF-IDF: ln() differs at ulp level across libm implementations — no
    // SQL oracle; OperatorsSpec pins the ranking behavior.
    Gate("text_tfidf", (s, dir) => {
      TextAnalysis.tfIdfTopTerms(table(s, dir, "documents"), "text", "doc_id", k = 5)
        .orderBy("doc", "rk")
    }, RowsOnly("libm `ln` idf", twin = "text_tfidf_int")),

    // Integer-idf TF-IDF ranking — exact integer arithmetic end-to-end, so
    // the full ranking (not just tf/df counts) is oracle-checked.
    Gate("text_tfidf_int", (s, dir) => {
      TextAnalysis.tfIdfTopTermsInt(table(s, dir, "documents"), "text", "doc_id", k = 5)
        .orderBy("doc", "rk")
    }, Sql(
      """WITH tfc AS (
        |  SELECT doc, w, COUNT(*) AS tf FROM (
        |    SELECT doc_id AS doc, unnest(string_split(trim(text), ' ')) AS w
        |    FROM documents) t
        |  GROUP BY doc, w),
        |idf AS (
        |  SELECT w, COUNT(*) AS df,
        |         (1000 * (SELECT COUNT(*) FROM documents)) // COUNT(*) AS idf_int
        |  FROM (SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS w
        |        FROM documents) t
        |  GROUP BY w),
        |scored AS (
        |  SELECT doc, tfc.w AS w, tf, df, tf * idf_int AS score_int,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY doc
        |              ORDER BY tf * idf_int DESC, tfc.w) AS BIGINT) AS rk
        |  FROM tfc JOIN idf ON tfc.w = idf.w)
        |SELECT doc, w, tf, df, score_int, rk FROM scored WHERE rk <= 5""".stripMargin)),

    // Quantile binning (polars qcut): documents into length deciles over a
    // total (n_chars, doc_id) order — ntile bin assignment is a pure
    // function of rank and n, so the per-bin report is engine-exact.
    Gate("text_qcut", (s, dir) => {
      graft.operators.DataQuality.qcut(
          table(s, dir, "documents"), "n_chars", 10, Seq("doc_id"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("lo_chars"),
          max(col("n_chars")).as("hi_chars"))
        .orderBy("bin")
    }, Sql(
      """WITH b AS (SELECT doc_id, n_chars,
        |  NTILE(10) OVER (ORDER BY n_chars, doc_id) AS bin FROM documents)
        |SELECT bin, COUNT(*) AS n_docs,
        |  MIN(n_chars) AS lo_chars, MAX(n_chars) AS hi_chars
        |FROM b GROUP BY bin""".stripMargin)),

    // Per-group quantile binning (polars qcut().over(group)) — price
    // quartiles WITHIN each order status: ntile over a group-partitioned
    // window, one hashpartitioning(status) exchange, each stratum ranks
    // inside its own partition.
    Gate("text_qcut_group", (s, dir) => {
      graft.operators.DataQuality.qcutPerGroup(
          table(s, dir, "orders"), "o_orderstatus", "o_totalprice", 4,
          Seq("o_orderkey"))
        .groupBy("o_orderstatus", "bin")
        .agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus", "bin")
    }, Sql(
      s"""WITH b AS (SELECT o_orderstatus, o_totalprice,
         |  NTILE(4) OVER (PARTITION BY o_orderstatus
         |                 ORDER BY o_totalprice, o_orderkey) AS bin
         |  FROM orders)
         |SELECT o_orderstatus, bin, COUNT(*) AS n,
         |  ${osum("o_totalprice")} AS total
         |FROM b GROUP BY o_orderstatus, bin""".stripMargin)),

    Gate("text_stats", (s, dir) => {
      val d = table(s, dir, "documents")
      d.select(
        col("doc_id"),
        length(trim(col("text"))).cast("long").as("n_chars_trim"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.regexTokenCount(col("text")).as("n_tokens_re"),
        TextAnalysis.stopwordCount(col("text")).as("n_stop"))
    }, Sql({
      val stops = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""SELECT doc_id,
         |  CAST(LENGTH(TRIM(text)) AS BIGINT) AS n_chars_trim,
         |  CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
         |       ELSE CAST(LENGTH(TRIM(text))
         |            - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 AS BIGINT)
         |  END AS n_tokens,
         |  CAST(len(regexp_extract_all(LOWER(text), '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens_re,
         |  CAST(len(list_filter(string_split(TRIM(text), ' '),
         |       w -> list_contains([$stops], w))) AS BIGINT) AS n_stop
         |FROM documents""".stripMargin
    })),

    Gate("text_quality", (s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
    }, Sql({
      val stops = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CAST(LENGTH(TRIM(text)) AS DOUBLE) AS chars,
         |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0.0
         |         ELSE CAST(LENGTH(TRIM(text))
         |              - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 AS DOUBLE)
         |    END AS tokens,
         |    CAST(len(list_filter(string_split(TRIM(text), ' '),
         |         w -> list_contains([$stops], w))) AS DOUBLE) AS stops
         |  FROM documents)
         |SELECT doc_id,
         |  0.4 * LEAST(1.0, tokens / 100.0)
         |  + 0.3 * LEAST(1.0, (CASE WHEN tokens > 0 THEN stops / tokens ELSE 0.0 END) * 4.0)
         |  + 0.3 * LEAST(1.0, chars / 500.0) AS quality
         |FROM c""".stripMargin
    })),

    // Model-based quality filtering: an integer log-odds-surrogate lexicon
    // trained on the even half of the corpus (label = single-digit source,
    // a balanced 50/50 split), then every doc scored by its linear margin.
    // Exact integer arithmetic end-to-end -> full DuckDB oracle.
    Gate("text_quality_classifier", (s, dir) => {
      val d = table(s, dir, "documents")
      val labeled = d.filter(col("doc_id") % 2 === 0)
        .withColumn("label", (length(col("source")) === 4).cast("int"))
      val lex = TextAnalysis.trainQualityLexicon(labeled, "text", "label")
      TextAnalysis.lexiconScore(d, "text", "doc_id", lex).orderBy("doc")
    }, Sql(
      """WITH train AS (
        |  SELECT doc_id, text,
        |    CASE WHEN LENGTH(source) = 4 THEN 1 ELSE 0 END AS lab
        |  FROM documents WHERE doc_id % 2 = 0),
        |pres AS (SELECT DISTINCT doc_id, lab, term FROM (
        |  SELECT doc_id, lab,
        |    unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS term
        |  FROM train)),
        |lex AS (
        |  SELECT term, SUM(CASE WHEN lab = 1 THEN 1 ELSE -1 END) AS weight
        |  FROM pres GROUP BY term),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS term
        |    FROM documents)
        |  GROUP BY doc_id, term)
        |SELECT tf.doc_id AS doc,
        |  CAST(SUM(tf.tf * COALESCE(lex.weight, 0)) AS BIGINT) AS score,
        |  CAST(SUM(CASE WHEN lex.weight IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS terms_hit
        |FROM tf LEFT JOIN lex ON lex.term = tf.term
        |GROUP BY tf.doc_id
        |ORDER BY doc""".stripMargin)),

    // Sequence packing: shard-parallel token-budget binning in id order —
    // pure integer arithmetic, windowed per shard (never a global window).
    Gate("text_pack_sequences", (s, dir) => {
      TextAnalysis.packSequences(table(s, dir, "documents"),
          "text", "doc_id", budgetTokens = 2048, nShards = 8)
        .orderBy("doc_id")
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |         ELSE LENGTH(TRIM(text))
        |              - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1 END AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, shard, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
        |  FROM t)
        |SELECT doc_id, CAST(shard AS INTEGER) AS shard, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(shard * 4294967296 + CAST(FLOOR(start_off / 2048.0) AS BIGINT) AS BIGINT) AS pack
        |FROM r ORDER BY doc_id""".stripMargin)),

    // BPE tokenizer training, round-1 statistics: exact integer adjacent-
    // pair frequencies over the corpus word-count table — full DuckDB
    // oracle for the counting machinery every merge round reuses.
    Gate("text_bpe_pairs", (s, dir) => {
      val words = Bpe.wordCounts(table(s, dir, "documents"), "text")
      Bpe.pairStats(words.withColumn("s", Bpe.charSymbols(col("word"))))
        .orderBy(desc("freq"), col("left_sym"), col("right_sym"))
        .limit(10)
    }, Sql(
      """WITH words AS (
        |  SELECT word, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents) t
        |  WHERE word <> '' GROUP BY word),
        |sym AS (SELECT word, cnt, string_split(word, '') AS s FROM words),
        |pairs AS (
        |  SELECT s[i] AS left_sym, s[i+1] AS right_sym, cnt
        |  FROM sym, LATERAL unnest(range(1, len(s))) AS g(i))
        |SELECT left_sym, right_sym, CAST(SUM(cnt) AS BIGINT) AS freq
        |FROM pairs GROUP BY 1, 2
        |ORDER BY freq DESC, left_sym, right_sym LIMIT 10""".stripMargin)),

    // The trained merge table (8 rounds): deterministic (total-order tie
    // break) but inherently iterative — no single SQL oracle can replay 8
    // dependent rounds, so rows-only here; BpeSpec hand-verifies the
    // classic planted corpus and pins round-1 == text_bpe_pairs' argmax.
    Gate("text_bpe_merges", (s, dir) => {
      import s.implicits._
      Bpe.train(Bpe.wordCounts(table(s, dir, "documents"), "text"), 8)
        .toDF("rank", "left_sym", "right_sym", "freq")
        .orderBy("rank")
    }, RowsOnly("8 dependent merge rounds, which no single SQL query replays",
      twin = "text_bpe_pairs")),

    // Token-ID encoding against a CONFIG merge table (tokenizer config =
    // literals in both engine and oracle, like the PII regexes): apply the
    // merges per word, map final symbols to dense ids from the
    // deterministic corpus vocabulary (distinct symbols, lexicographic).
    // Ids are a pure function of corpus + config -> full DuckDB oracle;
    // the exploded stream is bounded to every 25th doc.
    Gate("text_bpe_ids", (s, dir) => {
      val symd = Bpe.symbolize(table(s, dir, "documents"), "text", "doc_id",
        BpeConfigMerges)
      val voc = Bpe.vocab(symd)
      symd.filter(col("doc") % 25 === 0)
        .select(col("doc"), posexplode(col("syms")).as(Seq("pos", "symbol")))
        .join(broadcast(voc), "symbol")
        .select(col("doc"), col("pos").cast("long").as("pos"),
          col("token_id"), col("symbol"))
        .orderBy("doc", "pos")
    }, Sql(
      // text_bpe_ids / text_pack_bpe: the config merge table applies per
      // word as TWO nested replaces on the space-joined symbol string —
      // with left != right a merge's occurrences never overlap in symbols,
      // pass 1's only misses are boundary-space consumptions between
      // back-to-back occurrences, and pass 2 (misses now flanked by fused
      // tokens) catches every one, reproducing the engine's greedy
      // left-to-right fold exactly.
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |w AS (SELECT doc_id, i AS word_i, ws[i] AS word
        |      FROM t, LATERAL unnest(generate_series(1, len(ws))) AS g(i)
        |      WHERE ws[i] <> ''),
        |s0 AS (SELECT doc_id, word_i,
        |       ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s FROM w),
        |s1 AS (SELECT doc_id, word_i, replace(replace(s, ' t a ', ' ta '), ' t a ', ' ta ') AS s FROM s0),
        |s2 AS (SELECT doc_id, word_i, replace(replace(s, ' ta b ', ' tab '), ' ta b ', ' tab ') AS s FROM s1),
        |s3 AS (SELECT doc_id, word_i, replace(replace(s, ' l e ', ' le '), ' l e ', ' le ') AS s FROM s2),
        |s4 AS (SELECT doc_id, word_i, replace(replace(s, ' tab le ', ' table '), ' tab le ', ' table ') AS s FROM s3),
        |s5 AS (SELECT doc_id, word_i, replace(replace(s, ' e r ', ' er '), ' e r ', ' er ') AS s FROM s4),
        |toks AS (SELECT doc_id, word_i, string_split(trim(s), ' ') AS syms FROM s5),
        |seq AS (SELECT doc_id, word_i, j, syms[j] AS symbol
        |        FROM toks, LATERAL unnest(generate_series(1, len(syms))) AS g(j)),
        |voc AS (SELECT symbol,
        |          CAST(row_number() OVER (ORDER BY symbol) - 1 AS INTEGER) AS token_id
        |        FROM (SELECT DISTINCT symbol FROM seq)),
        |pos AS (SELECT doc_id, word_i, j, symbol,
        |          row_number() OVER (PARTITION BY doc_id ORDER BY word_i, j) - 1 AS pos
        |        FROM seq)
        |SELECT p.doc_id AS doc, CAST(p.pos AS BIGINT) AS pos, v.token_id, p.symbol
        |FROM pos p JOIN voc v USING (symbol)
        |WHERE p.doc_id % 25 = 0
        |ORDER BY doc, pos""".stripMargin)),

    // Sequence packing on REAL tokenizer counts: the BPE token-id arrays
    // (not the whitespace proxy) feed the shard-parallel token-budget
    // binning — the tokenize -> pack loop closed end-to-end.
    Gate("text_pack_bpe", (s, dir) => {
      val docs = table(s, dir, "documents")
      val symd = Bpe.symbolize(docs, "text", "doc_id", BpeConfigMerges)
      val ids = Bpe.tokenIds(docs, "text", "doc_id", BpeConfigMerges,
        Bpe.vocab(symd))
      TextAnalysis.packCounts(ids.select(col("doc"), col("n_tokens")),
          "doc", "n_tokens", budgetTokens = 1024, nShards = 8)
        .orderBy("doc_id")
    }, Sql(
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |w AS (SELECT doc_id, i AS word_i, ws[i] AS word
        |      FROM t, LATERAL unnest(generate_series(1, len(ws))) AS g(i)
        |      WHERE ws[i] <> ''),
        |s0 AS (SELECT doc_id, word_i,
        |       ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s FROM w),
        |s1 AS (SELECT doc_id, word_i, replace(replace(s, ' t a ', ' ta '), ' t a ', ' ta ') AS s FROM s0),
        |s2 AS (SELECT doc_id, word_i, replace(replace(s, ' ta b ', ' tab '), ' ta b ', ' tab ') AS s FROM s1),
        |s3 AS (SELECT doc_id, word_i, replace(replace(s, ' l e ', ' le '), ' l e ', ' le ') AS s FROM s2),
        |s4 AS (SELECT doc_id, word_i, replace(replace(s, ' tab le ', ' table '), ' tab le ', ' table ') AS s FROM s3),
        |s5 AS (SELECT doc_id, word_i, replace(replace(s, ' e r ', ' er '), ' e r ', ' er ') AS s FROM s4),
        |cnt AS (SELECT doc_id, SUM(len(string_split(trim(s), ' '))) AS n_tokens
        |        FROM s5 GROUP BY doc_id),
        |r AS (SELECT d.doc_id, d.doc_id % 8 AS shard, COALESCE(c.n_tokens, 0) AS n_tokens
        |      FROM documents d LEFT JOIN cnt c USING (doc_id)),
        |win AS (SELECT doc_id, shard, n_tokens,
        |          SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS start_off
        |        FROM r)
        |SELECT doc_id, CAST(shard AS INTEGER) AS shard, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(shard * 4294967296 + CAST(FLOOR(start_off / 1024.0) AS BIGINT) AS BIGINT) AS pack
        |FROM win ORDER BY doc_id""".stripMargin)),

    // Lossless tokenize→detokenize round trip: the </w>-marked symbol
    // stream decodes back to the whitespace-normalized text exactly —
    // the property that makes token-id exports reversible.
    Gate("text_bpe_roundtrip", (s, dir) => {
      Bpe.decode(Bpe.symbolizeMarked(table(s, dir, "documents"),
          "text", "doc_id", BpeConfigMerges))
        .orderBy("doc")
    }, Sql(
      // text_bpe_roundtrip: decode(encode(text)) == whitespace-normalized
      // text — the oracle IS the normalization, no tokenizer replay needed.
      """SELECT doc_id AS doc,
        |  trim(regexp_replace(text, ' +', ' ', 'g')) AS rebuilt_text
        |FROM documents ORDER BY doc""".stripMargin)),

    // DSIR-shaped data selection: score every document by its integer-rate
    // unigram contrast against the English subcorpus (the "target domain"),
    // keep the top 50 — domain-matching selection without labels. Exact
    // integer arithmetic end-to-end -> full DuckDB oracle.
    Gate("text_dsir_select", (s, dir) => {
      val d = table(s, dir, "documents")
      val scored = TextAnalysis.importanceContrast(
        d, d.filter(col("lang") === "en"), "text", "doc_id")
      TextAnalysis.importanceSelect(scored, 50)
    }, Sql(
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS term
        |  FROM documents),
        |nt AS (SELECT COUNT(*) AS n FROM tok WHERE lang = 'en'),
        |nr AS (SELECT COUNT(*) AS n FROM tok),
        |tr AS (SELECT term, (COUNT(*) * 1000000) // (SELECT n FROM nt) AS rate_t
        |       FROM tok WHERE lang = 'en' GROUP BY term),
        |rr AS (SELECT term, (COUNT(*) * 1000000) // (SELECT n FROM nr) AS rate_r
        |       FROM tok GROUP BY term),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term)
        |SELECT tf.doc_id AS doc,
        |  CAST(SUM(tf.tf * (COALESCE(tr.rate_t, 0) - rr.rate_r)) AS BIGINT) AS weight,
        |  CAST(SUM(tf.tf) AS BIGINT) AS n_tokens
        |FROM tf LEFT JOIN tr USING (term) JOIN rr USING (term)
        |GROUP BY tf.doc_id
        |ORDER BY weight DESC, doc LIMIT 50""".stripMargin)),

    // Sliding-window chunking (RAG / context-window prep): 32-word chunks
    // every 24 words, 8-word overlap — one codegen'd tokenize+transform+
    // posexplode per row, no shuffle, integer arithmetic end-to-end.
    Gate("text_chunks", (s, dir) => {
      TextAnalysis.chunkWords(table(s, dir, "documents"),
          "text", "doc_id", chunkSize = 32, stride = 24)
        .orderBy("doc", "chunk_id")
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, string_split(TRIM(text), ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, GREATEST(CAST(ceil(len(toks) / 24.0) AS BIGINT), 1))) AS i
        |  FROM t)
        |SELECT doc_id AS doc, i AS chunk_id,
        |  array_to_string(list_slice(toks, i*24 + 1, i*24 + 32), ' ') AS chunk,
        |  LEAST(len(toks) - i*24, 32) AS n_words
        |FROM c""".stripMargin)),

    // CCNet-style bigram LM quality scoring: train integer-rate bigram
    // model on the reference slice (en × src0), score every document by
    // modeled-bigram mass + OOV mass. Narrow-map bigram build, vocab-
    // bounded model, exact integers end-to-end -> full DuckDB oracle.
    Gate("text_lm_score", (s, dir) => {
      val d = table(s, dir, "documents")
      TextAnalysis.bigramLmScore(
          d, d.filter(col("lang") === "en" && col("source") === "src0"),
          "text", "doc_id")
        .orderBy("doc")
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, lang, source,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws
        |  FROM documents),
        |bg AS (SELECT doc_id, lang, source, ws[i] || ' ' || ws[i+1] AS bg
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) g),
        |refbg AS (SELECT bg FROM bg WHERE lang = 'en' AND source = 'src0'),
        |big AS (SELECT bg, COUNT(*) AS c2 FROM refbg GROUP BY bg),
        |uni AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1
        |        FROM refbg GROUP BY 1),
        |model AS (SELECT bg, (c2 * 1000000) // c1 AS rate
        |          FROM big JOIN uni ON split_part(big.bg, ' ', 1) = uni.w1),
        |tf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM bg GROUP BY 1, 2)
        |SELECT tf.doc_id AS doc,
        |  CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN rate IS NULL THEN tf ELSE 0 END) AS BIGINT) AS oov_bigrams,
        |  CAST(SUM(tf * COALESCE(rate, 0)) AS BIGINT) AS lm_score,
        |  CAST(SUM(tf * COALESCE(rate, 0)) // SUM(tf) AS BIGINT) AS lm_avg
        |FROM tf LEFT JOIN model USING (bg)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Benchmark decontamination: every 50th document plays the eval set;
    // training docs sharing any word trigram with it are flagged with
    // their contamination ratio (integer ratio -> oracle-exact double).
    // The benchmark gram set broadcasts; the corpus never reshuffles.
    Gate("text_decontaminate", (s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.decontaminate(d, d.filter(col("doc_id") % 50 === 0),
          "text", "doc_id")
        .orderBy("doc_id")
    }, Sql(
      """WITH words AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |idx AS (SELECT doc_id, ws,
        |        unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i FROM words),
        |grams AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s FROM idx),
        |bench AS (SELECT DISTINCT s FROM grams WHERE doc_id % 50 = 0),
        |sizes AS (SELECT doc_id, COUNT(*) AS total_grams FROM grams GROUP BY doc_id),
        |shared AS (
        |  SELECT g.doc_id, COUNT(*) AS shared_grams
        |  FROM grams g JOIN bench b ON g.s = b.s GROUP BY g.doc_id)
        |SELECT sh.doc_id, shared_grams, total_grams,
        |  CAST(shared_grams AS DOUBLE) / total_grams AS contamination
        |FROM shared sh JOIN sizes sz ON sh.doc_id = sz.doc_id
        |ORDER BY sh.doc_id""".stripMargin)),

    // PII scrub: emails and phone-shaped numbers redacted to placeholder
    // tokens with a per-doc redaction count. PII is INJECTED onto every
    // 7th document (the synthetic corpus has none), same expression on
    // the oracle side; patterns are RE2-compatible so DuckDB runs the
    // identical regexes.
    Gate("text_pii_scrub", (s, dir) => {
      val d = table(s, dir, "documents")
      val withPii = d.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"),
            lit("@example.com or 555-123-4567")))
          .otherwise(col("text")))
      TextAnalysis.piiScrub(withPii, "text", "doc_id").orderBy("doc_id")
    }, Sql({
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
      s"""WITH corpus AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0
         |      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
         |           || '@example.com or 555-123-4567'
         |      ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
         |                 '$phone', '<PHONE>', 'g') AS clean_text,
         |  CAST(len(regexp_extract_all(text, '$email'))
         |     + len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_redacted
         |FROM corpus ORDER BY doc_id""".stripMargin
    })),

    // Heuristic language ID (word-marker + char-trigram variants) —
    // engine-deterministic, no SQL oracle.
    Gate("text_langid", (s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.langIdNgram(col("text")).as("lang_pred_ngram"),
          col("lang"))
    }, Sql({
      // Generated from the same constants as the Spark operator. Tie-break
      // mirrors Spark's array_max over struct(score, lang): highest score,
      // then lexicographically LARGEST language code.
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val langsDesc = langs.sorted.reverse
      def mk(lang: String, markers: Seq[String]): String = {
        val lst = markers.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(lower(trim(text)), ' '), w -> list_contains([$lst], w))) AS mk_$lang"
      }
      def ng(lang: String, tris: Seq[String]): String = {
        val terms = tris.map(t =>
          s"(LENGTH(lower(text)) - LENGTH(replace(lower(text), '$t', ''))) / 3").mkString(" + ")
        s"($terms) AS ng_$lang"
      }
      def pick(prefix: String): String = {
        val m = s"greatest(${langs.map(l => s"${prefix}_$l").mkString(", ")})"
        val cases = langsDesc.init.map(l => s"WHEN ${prefix}_$l = $m THEN '$l'").mkString(" ")
        s"CASE WHEN $m <= 0 THEN 'und' $cases ELSE '${langsDesc.last}' END"
      }
      s"""WITH s AS (
         |  SELECT doc_id, lang,
         |    ${TextAnalysis.LangMarkers.map { case (l, ms) => mk(l, ms) }.mkString(",\n    ")},
         |    ${TextAnalysis.TrigramProfiles.map { case (l, ts) => ng(l, ts) }.mkString(",\n    ")}
         |  FROM documents)
         |SELECT doc_id, ${pick("mk")} AS lang_pred,
         |  ${pick("ng")} AS lang_pred_ngram, lang
         |FROM s""".stripMargin
    })),

    // xxhash64-based fingerprint — engine-deterministic, no SQL oracle.
    Gate("text_fingerprint", (s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    }, RowsOnly("xxhash64", twin = "text_winnow_int")),

    // Winnowing rolling-hash fingerprints — engine-deterministic, no oracle;
    // OperatorsSpec asserts near-dup overlap guarantees.
    Gate("text_winnow", (s, dir) => {
      TextAnalysis.winnowFingerprints(
        table(s, dir, "documents"), "text", "doc_id")
        .groupBy("doc")
        .agg(count(lit(1)).as("n_fp"), min("fp").as("min_fp"), max("fp").as("max_fp"))
        .orderBy("doc")
    }, RowsOnly("xxhash64 k-gram hashes", twin = "text_winnow_int")),

    // Winnowing with an integer modular rolling hash — the oracle-checked
    // exact twin of text_winnow (same k-gram/min-window/distinct machinery,
    // SQL-reproducible hash).
    Gate("text_winnow_int", (s, dir) => {
      TextAnalysis.winnowFingerprintsInt(
        table(s, dir, "documents"), "text", "doc_id")
        .groupBy("doc")
        .agg(count(lit(1)).as("n_fp"), min("fp").as("min_fp"), max("fp").as("max_fp"))
        .orderBy("doc")
    }, Sql(
      """WITH words AS (
        |  SELECT doc_id AS doc,
        |         generate_subscripts(string_split(trim(text), ' '), 1) AS pos,
        |         unnest(string_split(trim(text), ' ')) AS w
        |  FROM documents),
        |vocab AS (
        |  SELECT w, ROW_NUMBER() OVER (ORDER BY w) AS wid
        |  FROM (SELECT DISTINCT w FROM words) t),
        |grams AS (
        |  SELECT doc, pos,
        |    wid AS id0,
        |    LEAD(wid, 1) OVER (PARTITION BY doc ORDER BY pos) AS id1,
        |    LEAD(wid, 2) OVER (PARTITION BY doc ORDER BY pos) AS id2,
        |    LEAD(wid, 3) OVER (PARTITION BY doc ORDER BY pos) AS id3
        |  FROM words JOIN vocab USING (w)),
        |hashed AS (
        |  SELECT doc, pos,
        |    ((((((id0 % 2147483647) * 1000003 + id1) % 2147483647) * 1000003
        |       + id2) % 2147483647) * 1000003 + id3) % 2147483647 AS h
        |  FROM grams WHERE id3 IS NOT NULL),
        |fps AS (
        |  SELECT DISTINCT doc,
        |    MIN(h) OVER (PARTITION BY doc ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM hashed)
        |SELECT doc, COUNT(*) AS n_fp, MIN(fp) AS min_fp, MAX(fp) AS max_fp
        |FROM fps GROUP BY doc ORDER BY doc""".stripMargin)),

    // Gopher-style line-repetition signals; boilerplate INJECTED onto every
    // 5th doc (the synthetic corpus has no repeated lines), identical
    // expression on the oracle side.
    Gate("text_repetition", (s, dir) => {
      val d = table(s, dir, "documents")
      val injected = d.withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"),
            lit("\nrepeat me line\nrepeat me line\nrepeat me line")))
          .otherwise(col("text")))
      TextAnalysis.lineRepetition(injected, "text", "doc_id").orderBy("doc")
    }, Sql(
      """WITH injected AS (
        |  SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || chr(10) || 'repeat me line' || chr(10) || 'repeat me line'
        |         || chr(10) || 'repeat me line'
        |    ELSE text END AS text
        |  FROM documents),
        |lines AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM injected),
        |lc AS (SELECT doc_id, line, count(*) AS c, length(line) AS len
        |       FROM lines WHERE line <> '' GROUP BY doc_id, line)
        |SELECT doc_id AS doc,
        |  1.0 - count(*)::DOUBLE / sum(c) AS dup_line_frac,
        |  coalesce(sum(CASE WHEN c > 1 THEN c*len END), 0)::DOUBLE / sum(c*len)
        |    AS dup_line_char_frac
        |FROM lc GROUP BY doc_id ORDER BY doc""".stripMargin)),

    // Top-bigram concentration — natural repetition exists in the corpus,
    // no injection needed.
    Gate("text_top_bigram", (s, dir) => {
      TextAnalysis.topBigramFrac(table(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc")
    }, Sql(
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS l FROM documents),
        |bg AS (SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z FROM toks),
        |bc AS (SELECT doc_id, z[1] || ' ' || z[2] AS bigram, count(*) AS c
        |       FROM bg GROUP BY doc_id, bigram)
        |SELECT doc_id AS doc, max(c)::DOUBLE / sum(c) AS top_bigram_frac,
        |  CAST(sum(c) AS BIGINT) AS n_bigrams
        |FROM bc GROUP BY doc_id ORDER BY doc""".stripMargin)),

    // BM25 full-text search over the persisted inverted index: the query's
    // terms prune the postings lake to ≤3 of 16 bucket cells (driver-side
    // bucket ids, zero I/O) — query cost ∝ queried terms' postings, never
    // corpus size. Float scorer: ln() is libm-dependent, so rows-only;
    // the exact-integer twin below is the hash-checked ranking.
    Gate("text_bm25_topk", (s, dir) => {
      TextSearch.searchTopK(Fixtures.bm25Index(s, dir), "spark join window", 20)
    }, RowsOnly("libm `ln` idf", twin = "text_bm25_int"),
      prewarm = Some((s, dir) => { Fixtures.bm25Index(s, dir); () })),

    // Integer-surrogate BM25 (same pruned plan, integer idf/saturation
    // ladders — TextSearch.searchTopKInt scaladoc) — oracle-checked
    // end-to-end including the ranking.
    Gate("text_bm25_int", (s, dir) => {
      TextSearch.searchTopKInt(Fixtures.bm25Index(s, dir), "spark join window", 20)
    }, Sql(
      // Exact-integer BM25 (TextSearch.searchTopKInt): every division is
      // integer division (`div` in Spark, `//` here), so the full ranking
      // hash-matches. dl/l/score sums CAST from DuckDB's HUGEINT to BIGINT.
      """WITH tf AS (
        |  SELECT doc, w, COUNT(*) AS tf FROM (
        |    SELECT doc_id AS doc, unnest(string_split(TRIM(text), ' ')) AS w
        |    FROM documents) t
        |  GROUP BY doc, w),
        |dl AS (SELECT doc, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc),
        |corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                  CAST(SUM(dl) AS BIGINT) AS l FROM dl),
        |q AS (SELECT UNNEST(['spark', 'join', 'window']) AS w),
        |p AS (SELECT tf.doc, tf.w, tf.tf, dl.dl
        |      FROM tf JOIN dl USING (doc)
        |      WHERE tf.w IN (SELECT w FROM q)),
        |dft AS (SELECT w, COUNT(*) AS df FROM p GROUP BY w)
        |SELECT p.doc AS doc,
        |  CAST(SUM(((1000 * (2 * n - 2 * df + 1)) // (2 * df + 1)) *
        |           ((44 * l * tf * 1000000) //
        |            (20 * l * tf + 6 * l + 18 * dl * n))) AS BIGINT) AS score_int
        |FROM p JOIN dft USING (w) CROSS JOIN corpus
        |GROUP BY p.doc
        |ORDER BY score_int DESC, doc
        |LIMIT 20""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.bm25Index(s, dir); () })),

    // INDEX ERASURE: doc_id % 10 == 0 deleted from the persisted inverted
    // index (removeFromIndex rewrites only the bucket cells that held the
    // doomed postings), index reopened from disk, then the integer-BM25
    // ranking must equal the oracle computed over the SURVIVING documents
    // alone — erased docs must influence neither df, nor the corpus
    // scalars, nor the ranking.
    Gate("text_bm25_removed", (s, dir) => {
      TextSearch.searchTopKInt(Fixtures.bm25IndexRemoved(s, dir), "spark join window", 20)
    }, Sql(
      // text_bm25_int over the documents that SURVIVED the erasure — the
      // removed docs must be absent from tf, df, dl, and the corpus scalars.
      """WITH tf AS (
        |  SELECT doc, w, COUNT(*) AS tf FROM (
        |    SELECT doc_id AS doc, unnest(string_split(TRIM(text), ' ')) AS w
        |    FROM documents WHERE doc_id % 10 <> 0) t
        |  GROUP BY doc, w),
        |dl AS (SELECT doc, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc),
        |corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                  CAST(SUM(dl) AS BIGINT) AS l FROM dl),
        |q AS (SELECT UNNEST(['spark', 'join', 'window']) AS w),
        |p AS (SELECT tf.doc, tf.w, tf.tf, dl.dl
        |      FROM tf JOIN dl USING (doc)
        |      WHERE tf.w IN (SELECT w FROM q)),
        |dft AS (SELECT w, COUNT(*) AS df FROM p GROUP BY w)
        |SELECT p.doc AS doc,
        |  CAST(SUM(((1000 * (2 * n - 2 * df + 1)) // (2 * df + 1)) *
        |           ((44 * l * tf * 1000000) //
        |            (20 * l * tf + 6 * l + 18 * dl * n))) AS BIGINT) AS score_int
        |FROM p JOIN dft USING (w) CROSS JOIN corpus
        |GROUP BY p.doc
        |ORDER BY score_int DESC, doc
        |LIMIT 20""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.bm25IndexRemoved(s, dir); () })),

    // HYBRID retrieval: reciprocal-rank fusion of the integer-BM25 lexical
    // top-20 and the SQ8 code-space-cosine vector top-20 (vec_id keys the
    // same synthetic corpus) — both inputs are oracle-exact, the fusion is
    // integer arithmetic, so the whole hybrid ranking has a DuckDB oracle.
    Gate("search_hybrid_rrf", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = table(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .head().getSeq[Float](1).toSeq
      // The two unpartitioned rank windows below are PROVABLY bounded: each
      // input is a `.limit(20)` top-k, so the single-partition window stage
      // holds ≤ 20 rows at any corpus scale — never the table.
      val lex = TextSearch.searchTopKInt(
          Fixtures.bm25Index(s, dir), "spark join window", 20)
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("score_int"), col("doc"))))
      val vec = Sq.sq8TopK(Sq.sq8Encode(e, "embedding", "vec_id"),
          "vec_id", q, 20)
        .withColumnRenamed("vec_id", "doc")
        .withColumn("rk", row_number().over(
          Window.orderBy(desc("cos_q"), col("doc"))))
      Fusion.rrf(Seq(lex.select("doc", "rk"), vec.select("doc", "rk")),
        "doc", "rk", 15)
    }, Sql(
      // search_hybrid_rrf: the text_bm25_int and ann_sq8_topk oracles at
      // k=20 with explicit ranks, fused on the integer RRF grid.
      """WITH tf AS (
        |  SELECT doc, w, COUNT(*) AS tf FROM (
        |    SELECT doc_id AS doc, unnest(string_split(TRIM(text), ' ')) AS w
        |    FROM documents) t
        |  GROUP BY doc, w),
        |dl AS (SELECT doc, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc),
        |corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                  CAST(SUM(dl) AS BIGINT) AS l FROM dl),
        |qt AS (SELECT UNNEST(['spark', 'join', 'window']) AS w),
        |p AS (SELECT tf.doc, tf.w, tf.tf, dl.dl
        |      FROM tf JOIN dl USING (doc)
        |      WHERE tf.w IN (SELECT w FROM qt)),
        |dft AS (SELECT w, COUNT(*) AS df FROM p GROUP BY w),
        |lex AS (
        |  SELECT doc, ROW_NUMBER() OVER (ORDER BY score_int DESC, doc) AS rk
        |  FROM (
        |    SELECT p.doc,
        |      CAST(SUM(((1000 * (2 * n - 2 * df + 1)) // (2 * df + 1)) *
        |               ((44 * l * tf * 1000000) //
        |                (20 * l * tf + 6 * l + 18 * dl * n))) AS BIGINT) AS score_int
        |    FROM p JOIN dft USING (w) CROSS JOIN corpus
        |    GROUP BY p.doc
        |    ORDER BY score_int DESC, doc LIMIT 20)),
        |enc AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(FLOOR(x *
        |      (CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) = 0
        |            THEN 0 ELSE 127.0 / list_max(list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))) END)
        |      + 0.5) AS BIGINT)) AS codes
        |  FROM embeddings),
        |qv AS (SELECT codes AS qc FROM enc WHERE vec_id = 0),
        |vecscored AS (
        |  SELECT vec_id,
        |    list_dot_product(codes, qc) AS dot,
        |    list_dot_product(codes, codes) AS nv,
        |    list_dot_product(qc, qc) AS nq
        |  FROM enc, qv),
        |vec AS (
        |  SELECT vec_id AS doc, ROW_NUMBER() OVER (ORDER BY cos_q DESC, doc) AS rk
        |  FROM (
        |    SELECT vec_id,
        |      CASE WHEN nv = 0 OR nq = 0 THEN 0
        |           ELSE CAST(round(dot / (sqrt(nv) * sqrt(nq)) * 1000000.0) AS BIGINT) END AS cos_q
        |    FROM vecscored
        |    ORDER BY cos_q DESC, vec_id LIMIT 20) s(vec_id, cos_q)),
        |contrib AS (
        |  SELECT doc, 1000000 // (60 + rk) AS c FROM lex
        |  UNION ALL
        |  SELECT doc, 1000000 // (60 + rk) AS c FROM vec)
        |SELECT doc, CAST(SUM(c) AS BIGINT) AS rrf_int
        |FROM contrib GROUP BY doc
        |ORDER BY rrf_int DESC, doc LIMIT 15""".stripMargin)),

    // BM25 SIMILARITY JOIN: top-5 corpus docs for every row of a query
    // table in ONE plan (query terms explode into a single equi-join on
    // the pruned postings, per-query window top-k) — the text analogue of
    // ann_batch_*. Integer ladders, so the full ranking is oracle-checked;
    // self-matches kept (each query doc ranks itself first).
    Gate("text_bm25_batch", (s, dir) => {
      TextSearch.searchBatchTopKInt(Fixtures.bm25Index(s, dir),
        table(s, dir, "documents").filter(col("doc_id") <= 5),
        "text", "doc_id", 5)
        .orderBy("query_id", "rk")
    }, Sql(
      // Batch BM25: same integer ladders as text_bm25_int, per-query window.
      """WITH tf AS (
        |  SELECT doc, w, COUNT(*) AS tf FROM (
        |    SELECT doc_id AS doc, unnest(string_split(TRIM(text), ' ')) AS w
        |    FROM documents) t
        |  GROUP BY doc, w),
        |dl AS (SELECT doc, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc),
        |corpus AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |                  CAST(SUM(dl) AS BIGINT) AS l FROM dl),
        |qt AS (SELECT DISTINCT doc_id AS query_id,
        |              unnest(string_split(TRIM(text), ' ')) AS w
        |       FROM documents WHERE doc_id <= 5),
        |p AS (SELECT tf.doc, tf.w, tf.tf, dl.dl
        |      FROM tf JOIN dl USING (doc)
        |      WHERE tf.w IN (SELECT DISTINCT w FROM qt)),
        |dft AS (SELECT w, COUNT(*) AS df FROM p GROUP BY w),
        |sc AS (
        |  SELECT qt.query_id, p.doc,
        |    CAST(SUM(((1000 * (2 * n - 2 * df + 1)) // (2 * df + 1)) *
        |             ((44 * l * tf * 1000000) //
        |              (20 * l * tf + 6 * l + 18 * dl * n))) AS BIGINT)
        |      AS score_int
        |  FROM qt JOIN p USING (w) JOIN dft USING (w) CROSS JOIN corpus
        |  GROUP BY qt.query_id, p.doc),
        |rk AS (
        |  SELECT query_id, doc, score_int,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY score_int DESC, doc) AS BIGINT) AS rk
        |  FROM sc)
        |SELECT query_id, doc, score_int, rk FROM rk WHERE rk <= 5
        |ORDER BY query_id, rk""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.bm25Index(s, dir); () })),

    // Exact phrase search over the positional index: each phrase slot
    // votes for its start position (pos − idx) — one broadcast join + one
    // aggregation, no |phrase|-way self-join; overlapping and
    // repeated-word occurrences exact ("batch batch" exercises both).
    // All-integer, so the full ranking is oracle-checked.
    Gate("text_phrase_search", (s, dir) => {
      TextSearch.phraseSearchTopK(Fixtures.posIndex(s, dir), "batch batch", 20)
    }, Sql(
      // Exact phrase occurrences via the same slot-vote scheme in SQL
      // (positions are 1-based here, 0-based in Spark — only differences
      // matter, and the start column never leaves the query).
      """WITH words AS (
        |  SELECT doc_id AS doc,
        |         generate_subscripts(string_split(TRIM(text), ' '), 1) AS pos,
        |         unnest(string_split(TRIM(text), ' ')) AS w
        |  FROM documents),
        |ph AS (SELECT * FROM (VALUES ('batch', 0), ('batch', 1)) t(w, idx)),
        |cand AS (SELECT doc, pos - idx AS s FROM words JOIN ph USING (w)),
        |occ AS (SELECT doc, s FROM cand GROUP BY doc, s HAVING COUNT(*) = 2)
        |SELECT doc, COUNT(*) AS n_occ FROM occ
        |GROUP BY doc ORDER BY n_occ DESC, doc LIMIT 20""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.posIndex(s, dir); () })),

    // Erasure through the POSITIONAL index: doc_id % 10 == 0 deleted from
    // the persisted occurrence lists, index reopened from disk, same
    // phrase ranking over the survivors.
    Gate("text_phrase_removed", (s, dir) => {
      TextSearch.phraseSearchTopK(Fixtures.posIndexRemoved(s, dir), "batch batch", 20)
    }, Sql(
      // text_phrase_search over the documents that SURVIVED the erasure.
      """WITH words AS (
        |  SELECT doc_id AS doc,
        |         generate_subscripts(string_split(TRIM(text), ' '), 1) AS pos,
        |         unnest(string_split(TRIM(text), ' ')) AS w
        |  FROM documents WHERE doc_id % 10 <> 0),
        |ph AS (SELECT * FROM (VALUES ('batch', 0), ('batch', 1)) t(w, idx)),
        |cand AS (SELECT doc, pos - idx AS s FROM words JOIN ph USING (w)),
        |occ AS (SELECT doc, s FROM cand GROUP BY doc, s HAVING COUNT(*) = 2)
        |SELECT doc, COUNT(*) AS n_occ FROM occ
        |GROUP BY doc ORDER BY n_occ DESC, doc LIMIT 20""".stripMargin),
      prewarm = Some((s, dir) => { Fixtures.posIndexRemoved(s, dir); () })),

    // Heavy hitters: exact global top-k terms (one map-side-combined
    // aggregation + TakeOrdered).
    Gate("text_heavy_terms", (s, dir) => {
      HeavyHitters.topK(
        table(s, dir, "documents")
          .select(explode(split(trim(col("text")), " ")).as("w")),
        "w", 15)
    }, Sql(
      """SELECT w AS value, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(TRIM(text), ' ')) AS w FROM documents) t
        |GROUP BY w ORDER BY cnt DESC, value LIMIT 15""".stripMargin)),

    // Candidate-pruned variant: per-partition local top-c via mapPartitions
    // (≤ partitions·c rows shuffle instead of the vocabulary), exact
    // second-pass counts — exact above the N/(c+1) frequency floor, which
    // every top-15 term here clears (HeavyHittersSpec pins equality and
    // the pigeonhole guarantee across layouts).
    Gate("text_heavy_terms_pruned", (s, dir) => {
      HeavyHitters.topKCandidates(
        table(s, dir, "documents")
          .select(explode(split(trim(col("text")), " ")).as("w")),
        "w", 15, c = 50)
    }, RowsOnly("candidate set is partition-layout-dependent below the N/(c+1) floor",
      twin = "text_heavy_terms")),

    // Per-source token shares and the sampling weights for a uniform blend.
    Gate("text_mixture_weights", (s, dir) => {
      Sampling.mixtureWeights(table(s, dir, "documents"), "source",
          TextAnalysis.tokenCount(col("text")))
        .orderBy("source")
    }, Sql(
      """WITH t AS (
        |  SELECT source,
        |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
        |         ELSE LENGTH(TRIM(text)) - LENGTH(REPLACE(TRIM(text), ' ', '')) + 1
        |    END AS n_tokens
        |  FROM documents),
        |a AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS stratum_weight
        |      FROM t GROUP BY source)
        |SELECT source, stratum_weight,
        |  stratum_weight::DOUBLE / sum(stratum_weight) OVER () AS share,
        |  1.0 / count(*) OVER () AS target_share,
        |  (1.0 / count(*) OVER ())
        |    / (stratum_weight::DOUBLE / sum(stratum_weight) OVER ()) AS sample_weight
        |FROM a ORDER BY source""".stripMargin))
  )
}
