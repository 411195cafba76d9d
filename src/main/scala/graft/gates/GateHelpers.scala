package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Fixtures.table

/** Helpers the gate families share, beside their oracle-side spellings.
  *
  * Determinism note: Spark and DuckDB both sum doubles in nondeterministic
  * order, so every floating aggregate here is accumulated EXACTLY as
  * `DECIMAL(38,s)` and only cast back to double at the end — both engines
  * then produce bit-identical results. Inputs are 2-decimal monetary doubles
  * (products of two of them have <=4 decimals), so the decimal cast is
  * lossless.
  */
private[gates] object GateHelpers {

  /** Exact (order-independent) sum of a monetary double column. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(38, scale))).cast(DoubleType)

  /** Oracle-side spelling of [[dsum]]. */
  def osum(expr: String, scale: Int = 2): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(38,$scale))) AS DOUBLE)"

  /** Base series for the ts_* gates: per-(user, day) purchase value as
    * exact 1e-4-tick longs. Purchases are ~13/user/month, so the daily
    * series has real gaps for upsample/fill/interpolate to close.
    */
  def dailyPurchases(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg((sum(col("value").cast(DecimalType(38, 4))) * 10000)
        .cast(LongType).as("v_ticks"))

  /** Tokenizer CONFIG for the token-id gates: a fixed merge table applied
    * in order (each left ≠ right, so one merge pass has no overlapping
    * occurrences and the oracle's two-pass string replace reproduces the
    * greedy fold exactly — see the `text_bpe_ids` oracle). Chained merges
    * ("t a"→ta, "ta b"→tab, "l e"→le, "tab le"→table) exercise multi-char
    * fusion on the corpus's most frequent word.
    */
  val BpeConfigMerges: Seq[(String, String)] =
    Seq(("t", "a"), ("ta", "b"), ("l", "e"), ("tab", "le"), ("e", "r"))

  /** Deterministic messy-URL synthesis for the curation gates (the corpus
    * has no URL column): mixed-case scheme/host, www, default ports,
    * tracking params, unsorted params, trailing slash, fragment — every
    * case [[graft.operators.Urls.normalizeUrl]] must handle. Both engines
    * build the identical string, so the gate tests the NORMALIZER, not the
    * synthesis.
    */
  def syntheticUrl: Column = concat(
    when(col("doc_id") % 5 === 0, lit("HTTP://")).otherwise(lit("HTTPS://")),
    when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("")),
    col("source"),
    when(col("doc_id") % 4 === 0, lit(".CO.UK")).otherwise(lit(".Example.COM")),
    when(col("doc_id") % 5 === 0, lit(":80")).otherwise(lit(":443")),
    lit("/Articles/"), col("doc_id").cast("string"),
    when(col("doc_id") % 2 === 0, lit("/?utm_source=feed&b=2&a=1"))
      .otherwise(lit("?z=9&gclid=abc123")),
    lit("#Section-2"))

  /** Oracle-side spelling of [[syntheticUrl]]. */
  val UrlSynthSql: String =
    """(CASE WHEN doc_id % 5 = 0 THEN 'HTTP://' ELSE 'HTTPS://' END) ||
      |(CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) || source ||
      |(CASE WHEN doc_id % 4 = 0 THEN '.CO.UK' ELSE '.Example.COM' END) ||
      |(CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE ':443' END) ||
      |'/Articles/' || CAST(doc_id AS VARCHAR) ||
      |(CASE WHEN doc_id % 2 = 0 THEN '/?utm_source=feed&b=2&a=1'
      |      ELSE '?z=9&gclid=abc123' END) || '#Section-2'""".stripMargin

  /** Oracle-side registered-domain CASE over a host's label list `ls`. */
  val DomainCaseSql: String =
    """CASE WHEN len(ls) >= 3 AND array_to_string(list_slice(ls, len(ls)-1, len(ls)), '.')
      |       IN ('co.uk','org.uk','ac.uk','co.jp','com.au','com.br',
      |           'co.in','com.cn','co.kr','com.mx','co.nz','com.sg')
      |     THEN array_to_string(list_slice(ls, len(ls)-2, len(ls)), '.')
      |     WHEN len(ls) >= 2 THEN array_to_string(list_slice(ls, len(ls)-1, len(ls)), '.')
      |     ELSE host END""".stripMargin


  /** Seven-surface right-to-be-forgotten oracle, shared by the batch
    * composition (`pipeline_erasure_full`) and its streaming twin
    * (`stream_erasure`) — the streaming sink's incremental removes must
    * converge to the exact state one batch erase produces.
    */
  val erasureFullOracle: String =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
      |k AS (SELECT * FROM d WHERE doc_id % 170 <> 0),
      |norm AS (
      |  SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |              ' +', ' ', 'g')) AS t, MIN(doc_id) AS m
      |  FROM d GROUP BY t),
      |bmw AS (SELECT DISTINCT doc_id, w FROM
      |        (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM k)),
      |ws AS (SELECT doc_id,
      |         string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws
      |       FROM k),
      |tri AS (SELECT doc_id, COUNT(DISTINCT s) AS n FROM (
      |          SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |          FROM ws, LATERAL (SELECT unnest(generate_series(1,
      |                 greatest(len(ws) - 2, 0))) AS i) g) GROUP BY doc_id),
      |sh AS (SELECT CAST(SUM(COALESCE(tri.n, 1)) AS BIGINT) AS n
      |       FROM ws LEFT JOIN tri USING (doc_id))
      |SELECT '1_corpus' AS surface,
      |       CAST((SELECT COUNT(*) FROM k) AS BIGINT) AS rows,
      |       CAST(0 AS BIGINT) AS erased_refs
      |UNION ALL SELECT '2_exact_index',
      |       CAST((SELECT COUNT(*) FROM norm WHERE m % 170 <> 0) AS BIGINT), 0
      |UNION ALL SELECT '3_bm25_postings',
      |       CAST((SELECT COUNT(*) FROM bmw) AS BIGINT), 0
      |UNION ALL SELECT '4_positional',
      |       CAST((SELECT COALESCE(SUM(len(string_split(trim(text), ' '))), 0)
      |             FROM k) AS BIGINT), 0
      |UNION ALL SELECT '5_minhash_bands',
      |       CAST(8 * (SELECT COUNT(*) FROM k) AS BIGINT), 0
      |UNION ALL SELECT '6_minhash_shingles', (SELECT n FROM sh), 0
      |UNION ALL SELECT '7_ivf_assigned',
      |       CAST((SELECT COUNT(*) FROM embeddings
      |             WHERE vec_id < 1000 AND vec_id % 170 <> 0) AS BIGINT), 0
      |ORDER BY surface""".stripMargin
}
