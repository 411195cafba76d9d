package graft.gates

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Fixtures
import graft.Fixtures.table
import graft.lake.LakeDataset
import graft.operators.{DataQuality, Dedup, ExactDedupIndex, Joins, MinhashIndex, Sampling, Similarity, TextAnalysis, TextSearch, Urls}
import GateHelpers.{dailyPurchases, syntheticUrl, UrlSynthSql, DomainCaseSql, erasureFullOracle}

/** Training-data pipeline gates: curation, sampling, data quality, fuzzy
  * joins and the composed pipelines.
  */
private[gates] object TrainingDataGates {
  val gates: Seq[Gate] = Seq(
    // Data-quality profile (DataQuality.profile): every column's stats in
    // ONE aggregate over ONE scan — spec-pinned single leaf. Exact
    // distinct here for the oracle; approxDistinct=true is the 100 TB
    // path. Long-typed columns only so min/max casts are portable.
    Gate("dq_profile", (s, dir) => {
      DataQuality.profile(table(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus")).orderBy("column")
    }, Sql(
      """SELECT 'o_orderkey' AS "column", COUNT(*) AS n_rows,
        |       COUNT(*) - COUNT(o_orderkey) AS n_nulls,
        |       COUNT(DISTINCT o_orderkey) AS n_distinct,
        |       MIN(o_orderkey) AS min_long, MAX(o_orderkey) AS max_long
        |FROM orders
        |UNION ALL
        |SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
        |       COUNT(DISTINCT o_custkey), MIN(o_custkey), MAX(o_custkey)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
        |       COUNT(DISTINCT o_orderstatus),
        |       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |FROM orders""".stripMargin)),

    // Distribution drift between a corpus and its "next crawl" (every
    // length%7==0 doc dropped, every 5th doc re-crawled longer): per-bin
    // doc-length histogram counts plus the exact integer TVD numerator —
    // the promote-or-hold gate a pipeline runs on each incoming batch.
    Gate("dq_drift", (s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "text")
      val after = d.filter(length(col("text")) % 7 =!= 0)
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 500000).as("doc_id"),
            concat(col("text"), lit(" extended by a synthetic crawl pass"))
              .as("text")))
      DataQuality.histogramDrift(d, after, length(col("text")),
          binWidth = 50L, nBins = 12)
        // dev is Decimal(38,0) for the >9.2e18 row-product regime; at any
        // gate scale it fits a long exactly, and the long keeps the oracle
        // on portable BIGINT arithmetic.
        .withColumn("dev", col("dev").cast("long"))
        .orderBy("bin")
    }, Sql(
      """WITH before_t AS (SELECT doc_id, text FROM documents),
        |after_t AS (
        |  SELECT doc_id, text FROM documents WHERE LENGTH(text) % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 500000, text || ' extended by a synthetic crawl pass'
        |  FROM documents WHERE doc_id % 5 = 0),
        |hb AS (SELECT LEAST(GREATEST(LENGTH(text) // 50, 0), 11) AS bin,
        |              COUNT(*) AS n_before FROM before_t GROUP BY 1),
        |ha AS (SELECT LEAST(GREATEST(LENGTH(text) // 50, 0), 11) AS bin,
        |              COUNT(*) AS n_after FROM after_t GROUP BY 1),
        |j AS (SELECT COALESCE(hb.bin, ha.bin) AS bin,
        |             COALESCE(n_before, 0) AS n_before,
        |             COALESCE(n_after, 0) AS n_after
        |      FROM hb FULL OUTER JOIN ha ON hb.bin = ha.bin),
        |t AS (SELECT bin, n_before, n_after,
        |             SUM(n_before) OVER () AS tb, SUM(n_after) OVER () AS ta
        |      FROM j)
        |SELECT CAST(bin AS BIGINT) AS bin,
        |  CAST(n_before AS BIGINT) AS n_before,
        |  CAST(n_after AS BIGINT) AS n_after,
        |  CAST(ABS(n_before * ta - n_after * tb) AS BIGINT) AS dev
        |FROM t ORDER BY bin""".stripMargin)),

    // Constraint suite (DataQuality.check): row-local checks share one
    // scan; uniqueness adds one groupBy; referential integrity one
    // broadcast anti-join. Exact violation counts, oracle-mirrored.
    Gate("dq_checks", (s, dir) => {
      import graft.operators.DataQuality._
      DataQuality.check(table(s, dir, "orders"), Seq(
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 400000.0),
        MatchesRegex("o_orderpriority", "^[1-5]-[A-Z ]+$"),
        IsIn("o_orderstatus", Seq("O", "F")),
        Unique(Seq("o_orderkey")),
        RefIntegrity("o_custkey", table(s, dir, "customer"), "c_custkey")))
    }, Sql(
      """WITH rep AS (
        |  SELECT 'not_null(o_custkey)' AS c, COUNT(*) AS n,
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v FROM orders
        |  UNION ALL
        |  SELECT 'in_range(o_totalprice)', COUNT(*),
        |    SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 400000
        |        THEN 1 ELSE 0 END) FROM orders
        |  UNION ALL
        |  SELECT 'matches_regex(o_orderpriority)', COUNT(*),
        |    SUM(CASE WHEN o_orderpriority IS NOT NULL AND
        |        NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
        |        THEN 1 ELSE 0 END) FROM orders
        |  UNION ALL
        |  SELECT 'is_in(o_orderstatus)', COUNT(*),
        |    SUM(CASE WHEN o_orderstatus IS NOT NULL AND
        |        o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) FROM orders
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)', CAST(SUM(g) AS BIGINT),
        |    CAST(SUM(g - 1) AS BIGINT)
        |  FROM (SELECT COUNT(*) AS g FROM orders GROUP BY o_orderkey)
        |  UNION ALL
        |  SELECT 'ref_integrity(o_custkey)',
        |    (SELECT COUNT(*) FROM orders),
        |    (SELECT COUNT(*) FROM orders o
        |     WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
        |       SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
        |SELECT c AS "constraint", CAST(n AS BIGINT) AS n_rows,
        |       CAST(v AS BIGINT) AS n_violations, v = 0 AS passed
        |FROM rep""".stripMargin)),

    // Composed time-series pipeline (the polars chain
    // upsample().interpolate().ewm_mean() as one gate): sparse per-user
    // purchases -> dense day grid -> exact linear interpolation -> windowed
    // EWMA over the FILLED series, all under ONE chained DuckDB oracle.
    Gate("pipeline_timeseries", (s, dir) => {
      val up = graft.operators.TimeSeries.upsample(
        dailyPurchases(s, dir), "user_id", "day", 86400L)
      val interp = graft.operators.TimeSeries.interpolateLinear(
        up, "user_id", "day", "v_ticks")
      graft.operators.TimeSeries.ewmaWindowed(interp, "user_id", "day", "v_ticks")
        .select(col("user_id"), col("day"), col("v_ticks"), col("ewma"))
        .orderBy("user_id", "day")
    }, Sql({
      // The ts_interpolate CTE chain feeding the ts_ewma polynomial — one
      // chained oracle for the composed upsample→interpolate→ewm_mean gate.
      def pw(b: Long, e: Int): Long = (0 until e).foldLeft(1L)((acc, _) => acc * b)
      val terms = (0 until 8).map { k =>
        val w = pw(7L, k) * pw(10L, 7 - k)
        val xk = if (k == 0) "v_ticks" else s"LAG(v_ticks, $k) OVER w2"
        (s"CASE WHEN $xk IS NOT NULL THEN $xk * $w ELSE 0 END",
          s"CASE WHEN $xk IS NOT NULL THEN $w ELSE 0 END")
      }
      s"""WITH obs AS (
         |  SELECT user_id, date_trunc('day', ts) AS day,
         |    CAST(SUM(CAST(value AS DECIMAL(38,4))) * 10000 AS BIGINT) AS v_ticks
         |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
         |bounds AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM obs GROUP BY 1),
         |grid AS (SELECT user_id,
         |  UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds),
         |up AS (SELECT g.user_id, g.day, o.v_ticks FROM grid g
         |       LEFT JOIN obs o ON o.user_id = g.user_id AND o.day = g.day),
         |anch AS (SELECT user_id, day, v_ticks,
         |    LAST_VALUE(v_ticks IGNORE NULLS) OVER w_back AS pv,
         |    LAST_VALUE(CASE WHEN v_ticks IS NOT NULL THEN
         |      date_diff('day', TIMESTAMP '2024-01-01', day) END IGNORE NULLS)
         |      OVER w_back AS pt,
         |    FIRST_VALUE(v_ticks IGNORE NULLS) OVER w_fwd AS nv,
         |    FIRST_VALUE(CASE WHEN v_ticks IS NOT NULL THEN
         |      date_diff('day', TIMESTAMP '2024-01-01', day) END IGNORE NULLS)
         |      OVER w_fwd AS nt,
         |    date_diff('day', TIMESTAMP '2024-01-01', day) AS t
         |  FROM up
         |  WINDOW w_back AS (PARTITION BY user_id ORDER BY day
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         w_fwd AS (PARTITION BY user_id ORDER BY day
         |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
         |interp AS (SELECT user_id, day,
         |    CASE WHEN v_ticks IS NOT NULL THEN v_ticks
         |         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
         |           pv + ((nv - pv) * (t - pt)
         |                 - (((((nv - pv) * (t - pt)) % (nt - pt)) + (nt - pt)) % (nt - pt)))
         |                // (nt - pt)
         |    END AS v_ticks
         |  FROM anch),
         |e AS (SELECT user_id, day, v_ticks,
         |    CAST(${terms.map(_._1).mkString(" + ")} AS BIGINT) AS num,
         |    CAST(${terms.map(_._2).mkString(" + ")} AS BIGINT) AS den
         |  FROM interp WINDOW w2 AS (PARTITION BY user_id ORDER BY day))
         |SELECT user_id, day, v_ticks,
         |  CASE WHEN den > 0 THEN
         |    (num - (((num % den) + den) % den)) // den
         |  END AS ewma
         |FROM e""".stripMargin
    })),

    // ENTITY RESOLUTION PIPELINE: noisy records → fuzzy name pairs →
    // connected components → canonical entity id. Corpus = customers at
    // key%11 (multiples of 11 NEVER differ in one digit — 11 ∤ d·10^p —
    // so base names can't chain) + planted one-char typos at key%22.
    // Completeness is the deletion theorem; the oracle recomputes with
    // independent all-pairs levenshtein + recursive-CTE components.
    Gate("pipeline_entity_resolution", (s, dir) => {
      val c = table(s, dir, "customer")
      val base = c.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey").cast("long").as("rid"), col("c_name").as("name"))
      val typos = c.filter(col("c_custkey") % 22 === 0)
        .select((col("c_custkey") + 100000L).cast("long").as("rid"),
          concat(substring(col("c_name"), 1, 9), lit("x"),
            substring(col("c_name"), 11, 100)).as("name"))
      val rows = base.unionByName(typos)
      val nameIds = rows.groupBy("name").agg(min("rid").as("nid"))
      val pairs = Joins.fuzzySelfPairs(rows.select("name"), "name", maxDist = 1)
        .join(nameIds.select(col("name").as("name_a"), col("nid").as("ida")), "name_a")
        .join(nameIds.select(col("name").as("name_b"), col("nid").as("idb")), "name_b")
        .select("ida", "idb")
      val comps = Dedup.connectedComponents(pairs, "ida", "idb")
      rows.join(nameIds, "name")
        .join(comps.withColumnRenamed("doc_id", "nid"), Seq("nid"), "left")
        .select(col("rid"), coalesce(col("component"), col("nid")).as("entity"))
        .orderBy("rid")
    }, Sql(
      """WITH RECURSIVE base AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS rid, c_name AS name
        |  FROM customer WHERE c_custkey % 11 = 0),
        |typo AS (
        |  SELECT CAST(c_custkey + 100000 AS BIGINT) AS rid,
        |         substring(c_name, 1, 9) || 'x' || substring(c_name, 11) AS name
        |  FROM customer WHERE c_custkey % 22 = 0),
        |rws AS (SELECT * FROM base UNION ALL SELECT * FROM typo),
        |nid AS (SELECT name, MIN(rid) AS nid FROM rws GROUP BY name),
        |p AS (SELECT a.nid AS ida, b.nid AS idb FROM nid a JOIN nid b
        |      ON a.name < b.name AND abs(length(a.name) - length(b.name)) <= 1
        |         AND levenshtein(a.name, b.name) <= 1),
        |edges AS (SELECT ida AS a, idb AS b FROM p
        |          UNION SELECT idb, ida FROM p),
        |reach(v, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v),
        |comps AS (SELECT v, MIN(r) AS component FROM reach GROUP BY v)
        |SELECT r.rid, COALESCE(c.component, n.nid) AS entity
        |FROM rws r JOIN nid n USING (name) LEFT JOIN comps c ON c.v = n.nid
        |ORDER BY r.rid""".stripMargin)),

    // END-TO-END CURATION PIPELINE: URL → registered domain → blocklist →
    // per-domain cap → LM-quality filter → sequence packing, one composed
    // gate with a single chained DuckDB oracle (every stage exact-integer).
    // Proves the round's curation operators COMPOSE, orderings included.
    Gate("pipeline_curation_full", (s, dir) => {
      import s.implicits._
      val d = table(s, dir, "documents")
      val withDom = d.select(col("doc_id"), col("text"),
        Urls.registeredDomain(syntheticUrl).as("domain"))
      val block = Seq("src3.co.uk", "src7.co.uk").toDF("domain")
      val kept = withDom.join(broadcast(block), Seq("domain"), "left_anti")
      val capped = Sampling.topKPerGroup(kept, Seq("domain"),
        Seq(Sampling.hashKey(col("doc_id")), col("doc_id")), 20)
      val scored = TextAnalysis.bigramLmScore(capped,
        d.filter(col("lang") === "en" && col("source") === "src0"),
        "text", "doc_id")
      val good = scored.filter(col("lm_avg") >= 34000)
      val packed = TextAnalysis.packCounts(
        good.select(col("doc"), col("n_bigrams")),
        "doc", "n_bigrams", budgetTokens = 256, nShards = 8)
      packed
        .join(capped.select(col("doc_id"), col("domain")), "doc_id")
        .join(good.select(col("doc").as("doc_id"), col("lm_avg")), "doc_id")
        .select("doc_id", "domain", "lm_avg", "pack")
        .orderBy("doc_id")
    }, Sql(
      s"""WITH u0 AS (SELECT doc_id, $UrlSynthSql AS url FROM documents),
        |hp AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport
        |  FROM u0),
        |h AS (SELECT doc_id,
        |  CASE WHEN scheme = 'http'
        |         THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':80$$', '')
        |       WHEN scheme = 'https'
        |         THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':443$$', '')
        |       ELSE regexp_replace(hostport, '^www\\.', '') END AS host FROM hp),
        |dom AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM h),
        |dd AS (SELECT doc_id, $DomainCaseSql AS domain FROM dom),
        |ranked AS (SELECT domain, doc_id, row_number() OVER (PARTITION BY domain
        |  ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id) AS rn
        |  FROM dd WHERE domain NOT IN ('src3.co.uk', 'src7.co.uk')),
        |capped AS (SELECT domain, doc_id FROM ranked WHERE rn <= 20),
        |t AS (SELECT doc_id, lang, source,
        |    string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
        |  FROM documents),
        |bg AS (SELECT doc_id, lang, source, ws[i] || ' ' || ws[i+1] AS bg
        |       FROM t, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i) g),
        |refbg AS (SELECT bg FROM bg WHERE lang = 'en' AND source = 'src0'),
        |big AS (SELECT bg, COUNT(*) AS c2 FROM refbg GROUP BY bg),
        |uni AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1
        |        FROM refbg GROUP BY 1),
        |model AS (SELECT bg, (c2 * 1000000) // c1 AS rate
        |          FROM big JOIN uni ON split_part(big.bg, ' ', 1) = uni.w1),
        |tf AS (SELECT bg.doc_id, bg.bg, COUNT(*) AS tf
        |       FROM bg JOIN capped ON capped.doc_id = bg.doc_id GROUP BY 1, 2),
        |sc AS (SELECT tf.doc_id,
        |         CAST(SUM(tf) AS BIGINT) AS n_bigrams,
        |         CAST(SUM(tf * COALESCE(rate, 0)) // SUM(tf) AS BIGINT) AS lm_avg
        |       FROM tf LEFT JOIN model USING (bg) GROUP BY 1),
        |good AS (SELECT * FROM sc WHERE lm_avg >= 34000),
        |packed AS (SELECT doc_id, n_bigrams, lm_avg,
        |  (doc_id % 8) * 4294967296 +
        |  (SUM(n_bigrams) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
        |     ROWS UNBOUNDED PRECEDING) - n_bigrams) // 256 AS pack
        |  FROM good)
        |SELECT p.doc_id, c.domain, p.lm_avg, CAST(p.pack AS BIGINT) AS pack
        |FROM packed p JOIN capped c ON c.doc_id = p.doc_id
        |ORDER BY p.doc_id""".stripMargin)),

    // RIGHT-TO-BE-FORGOTTEN END-TO-END: one erased-id set (doc_id % 170 —
    // GDPR-sized: a handful of ids, so every index's rewrite tracks the
    // touched cells, not the corpus)
    // flows through the corpus table AND every persisted index type —
    // exact-dedup, BM25, positional, MinHash (bands + shingles), IVF —
    // and each surface reports its exact surviving row count plus a
    // zero references-to-forgotten-ids counter. Every surviving count is
    // SQL-derivable (postings = distinct (doc, word); positional = token
    // occurrences; bands = 8/doc; shingles = distinct trigrams with the
    // short-doc rule; exact index = normalized keys whose canonical
    // survived), so the WHOLE composed erasure has one DuckDB oracle.
    Gate("pipeline_erasure_full", (s, dir) => {
      val d = table(s, dir, "documents")
        .filter(col("doc_id") < 1000).select("doc_id", "text")
      val emb = table(s, dir, "embeddings")
        .filter(col("vec_id") < 1000).select("vec_id", "embedding")
      val erased = d.filter(col("doc_id") % 170 === 0).select("doc_id")

      // The six surfaces (corpus + five index families) are INDEPENDENT
      // build+erase pipelines over disjoint roots; each runs as a chain of
      // 1-4-task jobs, so sequentially the gate is bound by the per-job
      // scheduler floor, not data. Overlap them on a thread pool (guide
      // §2.6): one surface's stage tail back-fills with the next surface's
      // jobs. The composed FINAL STATE — what the oracle hashes — is
      // identical; build→erase stays sequential INSIDE each surface.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global

      val fCorpus = Future {
        val corpus = LakeDataset.fromDataFrame(s,
          d.withColumn("b", (col("doc_id") % 4).cast("int")),
          partitionCols = Seq("b"))
        corpus.delete(erased, Seq("doc_id"))
        corpus
      }
      val fEx = Future {
        val exIdx = ExactDedupIndex.open(s,
          Files.createTempDirectory("graft_ef_ex").toString, nBuckets = 8)
        exIdx.addBatch(d, "text", "doc_id")
        exIdx.remove(erased, "doc_id")
        exIdx
      }
      val fBm = Future {
        val bm = TextSearch.buildIndex(s, d, "text", "doc_id", nBuckets = 8,
          storage = Some(graft.model.StorageSpec(
            Files.createTempDirectory("graft_ef_bm").toString)))
        TextSearch.removeFromIndex(bm, erased, "doc_id")
      }
      val fPos = Future {
        val pos = TextSearch.buildPositional(s, d, "text", "doc_id",
          nBuckets = 8, storage = Some(graft.model.StorageSpec(
            Files.createTempDirectory("graft_ef_pos").toString)))
        TextSearch.removeFromPositional(pos, erased, "doc_id")
        pos
      }
      // 8 bucket cells per table is right-sized for this gate's SF (the
      // nBuckets=32 default is a crawl-scale key space; per-cell fixed job
      // costs would dominate the composition here)
      val fMh = Future {
        val mh = MinhashIndex.open(s,
          Files.createTempDirectory("graft_ef_mh").toString, nBuckets = 8)
        mh.addBatch(d, "text", "doc_id")
        mh.remove(erased, "doc_id")
        mh
      }
      val fIvf = Future {
        val ivfRoot = Files.createTempDirectory("graft_ef_ivf").toString
        val (cen, asg) = Similarity.buildIvf(emb, "embedding", "vec_id", 16, 64)
        Similarity.saveIvf(s, ivfRoot, cen, asg)
        Similarity.removeFromIvf(Similarity.loadIvf(s, ivfRoot),
          emb.filter(col("vec_id") % 170 === 0).select("vec_id"), "vec_id")
        Similarity.loadIvf(s, ivfRoot)
      }
      // Await ALL surfaces (never abandon one mid-build on a sibling's
      // failure), then rethrow the first error.
      val awaited = Seq(fCorpus, fEx, fBm, fPos, fMh, fIvf)
        .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
      awaited.foreach(_.get)
      val corpus = Await.result(fCorpus, Duration.Inf)
      val exIdx = Await.result(fEx, Duration.Inf)
      val bm2 = Await.result(fBm, Duration.Inf)
      val pos = Await.result(fPos, Duration.Inf)
      val mh = Await.result(fMh, Duration.Inf)
      val ivf2 = Await.result(fIvf, Duration.Inf)

      def surface(name: String, df: DataFrame, idc: String): DataFrame =
        df.agg(count(lit(1)).as("rows"),
            count(when(col(idc) % 170 === 0, 1)).as("erased_refs"))
          .select(lit(name).as("surface"), col("rows"), col("erased_refs"))

      surface("1_corpus", corpus.toDF, "doc_id")
        .unionByName(surface("2_exact_index", exIdx.docRows.get, "doc"))
        .unionByName(surface("3_bm25_postings", bm2.postings.toDF, "doc"))
        .unionByName(surface("4_positional", pos.postings.toDF, "doc"))
        .unionByName(surface("5_minhash_bands", mh.bandRows.get, "doc"))
        .unionByName(surface("6_minhash_shingles", mh.shingleRows.get, "doc"))
        .unionByName(surface("7_ivf_assigned", ivf2.assigned.toDF, "vec_id"))
        .orderBy("surface")
    }, Sql(
      // Every surface's surviving rows, derived relationally; erased_refs
      // is identically zero (a nonzero Spark-side count would row-mismatch).
      erasureFullOracle)),

    // URL canonicalization + registered-domain extraction over a messy
    // synthesized URL per document (mixed case, www, default ports,
    // tracking params, fragments, trailing slashes). One codegen'd
    // narrow map — no shuffle; RE2-safe regexes mirrored by the oracle.
    Gate("curate_url_normalize", (s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"), syntheticUrl.as("url"))
        .select(col("doc_id"), col("url"),
          Urls.normalizeUrl(col("url")).as("norm_url"),
          Urls.registeredDomain(col("url")).as("domain"))
        .orderBy("doc_id")
    }, Sql(
      s"""WITH u0 AS (SELECT doc_id, $UrlSynthSql AS url FROM documents),
        |p AS (SELECT doc_id, url,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$$', 1) AS rest
        |FROM u0),
        |h AS (SELECT *,
        |  CASE WHEN scheme = 'http'
        |         THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':80$$', '')
        |       WHEN scheme = 'https'
        |         THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':443$$', '')
        |       ELSE regexp_replace(hostport, '^www\\.', '') END AS host,
        |  regexp_replace(rest, '#.*$$', '') AS nofrag FROM p),
        |q AS (SELECT *,
        |  regexp_replace(regexp_replace(nofrag, '\\?.*$$', ''), '/+$$', '') AS path,
        |  regexp_extract(nofrag, '\\?(.*)$$', 1) AS qs FROM h),
        |f AS (SELECT *, array_to_string(list_sort(list_filter(string_split(qs, '&'),
        |  x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid=')
        |            OR starts_with(x, 'gclid=') OR starts_with(x, 'msclkid=')
        |            OR x = ''))), '&') AS sq FROM q),
        |n AS (SELECT doc_id, url, host,
        |  scheme || '://' || host || path ||
        |  (CASE WHEN sq = '' THEN '' ELSE '?' || sq END) AS norm_url FROM f),
        |dom AS (SELECT *, string_split(host, '.') AS ls FROM n)
        |SELECT doc_id, url, norm_url, $DomainCaseSql AS domain
        |FROM dom ORDER BY doc_id""".stripMargin)),

    // Domain-level curation: blocklist anti-join (broadcast) + per-domain
    // document cap under a deterministic md5 rank — the C4/RefinedWeb
    // "cap any one site's share of the corpus" pass.
    Gate("curate_domain_cap", (s, dir) => {
      import s.implicits._
      val d = table(s, dir, "documents")
        .select(col("doc_id"), Urls.registeredDomain(syntheticUrl).as("domain"))
      val block = Seq("src3.co.uk", "src7.co.uk").toDF("domain")
      val kept = d.join(broadcast(block), Seq("domain"), "left_anti")
      Sampling.topKPerGroup(kept, Seq("domain"),
          Seq(Sampling.hashKey(col("doc_id")), col("doc_id")), 8)
        .select("domain", "doc_id")
        .orderBy("domain", "doc_id")
    }, Sql(
      s"""WITH u0 AS (SELECT doc_id, $UrlSynthSql AS url FROM documents),
        |hp AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport
        |  FROM u0),
        |h AS (SELECT doc_id,
        |  CASE WHEN scheme = 'http'
        |         THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':80$$', '')
        |       WHEN scheme = 'https'
        |         THEN regexp_replace(regexp_replace(hostport, '^www\\.', ''), ':443$$', '')
        |       ELSE regexp_replace(hostport, '^www\\.', '') END AS host FROM hp),
        |dom AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM h),
        |dd AS (SELECT doc_id, $DomainCaseSql AS domain FROM dom),
        |ranked AS (SELECT domain, doc_id, row_number() OVER (PARTITION BY domain
        |  ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id) AS rn
        |  FROM dd WHERE domain NOT IN ('src3.co.uk', 'src7.co.uk'))
        |SELECT domain, doc_id FROM ranked WHERE rn <= 8
        |ORDER BY domain, doc_id""".stripMargin)),

    // SymSpell fuzzy self-join: all customer-name pairs within Levenshtein
    // distance 1, via deletion-neighborhood equi-join (complete by theorem,
    // no nested-loop plan). Oracle is the INDEPENDENT all-pairs ground
    // truth — DuckDB's own levenshtein over a length-banded join.
    Gate("fuzzy_join_names", (s, dir) => {
      Joins.fuzzySelfPairs(table(s, dir, "customer").select("c_name"), "c_name")
        .orderBy("name_a", "name_b")
    }, Sql(
      """WITH d AS (SELECT DISTINCT c_name AS name FROM customer)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
        |FROM d a JOIN d b
        |  ON a.name < b.name AND abs(length(a.name) - length(b.name)) <= 1
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY 1, 2""".stripMargin)),

    // The k=2 deletion neighborhood (nested deletes) under the same
    // independent all-pairs oracle — supplier names make the COMPLETE
    // distance-<=2 graph at sf0.01, so any missed candidate fails the gate.
    Gate("fuzzy_join_names2", (s, dir) => {
      Joins.fuzzySelfPairs(table(s, dir, "supplier").select("s_name"),
          "s_name", maxDist = 2)
        .orderBy("name_a", "name_b")
    }, Sql(
      """WITH d AS (SELECT DISTINCT s_name AS name FROM supplier)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
        |FROM d a JOIN d b
        |  ON a.name < b.name AND abs(length(a.name) - length(b.name)) <= 2
        |WHERE levenshtein(a.name, b.name) <= 2
        |ORDER BY 1, 2""".stripMargin)),

    // Deterministic ~10% hash sample (md5 is oracle-portable).
    Gate("sample_hash", (s, dir) => {
      Sampling.hashSample(table(s, dir, "documents"), "doc_id", "1999")
        .select("doc_id", "lang", "source").orderBy("doc_id")
    }, Sql(
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <= '1999'
        |ORDER BY doc_id""".stripMargin)),

    // Language-rebalancing stratified sample: keep ~50% of English, ~10%
    // of everything else.
    Gate("sample_stratified", (s, dir) => {
      Sampling.stratifiedSample(table(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> "7fff"), default = "1999")
        .select("doc_id", "lang").orderBy("doc_id")
    }, Sql(
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <=
        |  CASE WHEN lang = 'en' THEN '7fff' ELSE '1999' END
        |ORDER BY doc_id""".stripMargin)),

    // Leak-proof split: hash-split on the near-dup CANONICAL id so whole
    // clusters land in one split — the near-dup fixture's planted replays
    // (+100000 suffix copies) must land in the same split as their
    // originals, which raw-id hashing cannot guarantee.
    Gate("sample_split_leakproof", (s, dir) => {
      val corpus = Fixtures.nearDupDocuments(s, dir)
      Sampling.leakproofSplit(corpus,
          Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
            shingleSize = 3, threshold = 0.5),
          "doc_id", valHexThreshold = "3fff")
        .select("doc_id", "canon", "split").orderBy("doc_id")
    }, Sql(
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graft near dup suffix' AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |words AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM corpus),
        |idx AS (SELECT doc_id, ws,
        |        unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i FROM words),
        |grams AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s FROM idx),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
        |  FROM grams x JOIN grams y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(v, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v),
        |comps AS (SELECT v AS doc_id, MIN(r) AS component FROM reach GROUP BY v)
        |SELECT c.doc_id, COALESCE(k.component, c.doc_id) AS canon,
        |  CASE WHEN substr(md5(CAST(COALESCE(k.component, c.doc_id) AS VARCHAR)), 1, 4)
        |            <= '3fff'
        |       THEN 'val' ELSE 'train' END AS split
        |FROM corpus c LEFT JOIN comps k ON c.doc_id = k.doc_id
        |ORDER BY c.doc_id""".stripMargin)),

    // K-fold leak-proof assignment: folds by Lehmer(canonical id) mod 5 —
    // an entire near-dup cluster shares one fold, loners fold by their own
    // id, and the integer arithmetic is engine-portable.
    Gate("sample_folds_leakproof", (s, dir) => {
      val corpus = Fixtures.nearDupDocuments(s, dir)
      Sampling.leakproofFolds(corpus,
          Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
            shingleSize = 3, threshold = 0.5),
          "doc_id", k = 5)
        .select("doc_id", "canon", "fold").orderBy("doc_id")
    }, Sql(
      // Same recursive-CTE components as sample_split_leakproof; fold =
      // Lehmer(canon) mod 5 in the identical reduced-mod integer arithmetic.
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graft near dup suffix' AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |words AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM corpus),
        |idx AS (SELECT doc_id, ws,
        |        unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i FROM words),
        |grams AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s FROM idx),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
        |  FROM grams x JOIN grams y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(v, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v),
        |comps AS (SELECT v AS doc_id, MIN(r) AS component FROM reach GROUP BY v)
        |SELECT c.doc_id, COALESCE(k.component, c.doc_id) AS canon,
        |  CAST(((COALESCE(k.component, c.doc_id) % 2147483647) * 48271)
        |       % 2147483647 % 5 AS INTEGER) AS fold
        |FROM corpus c LEFT JOIN comps k ON c.doc_id = k.doc_id
        |ORDER BY c.doc_id""".stripMargin)),

    // Contrastive negatives: 4 deterministic shard-local pseudo-random
    // negatives per document — no cartesian, one window + one equi-join.
    Gate("sample_negatives", (s, dir) => {
      Sampling.negativePairs(table(s, dir, "documents"), "doc_id",
          k = 4, shards = 16)
        .orderBy("anchor", "slot")
    }, Sql(
      """WITH base AS (
        |  SELECT doc_id AS anchor,
        |    CAST(((doc_id % 2147483647) * 48271) % 2147483647 % 16 AS INTEGER) AS shard
        |  FROM documents),
        |idx AS (
        |  SELECT anchor, shard,
        |    CAST(row_number() OVER (PARTITION BY shard ORDER BY anchor) AS BIGINT) AS rn,
        |    count(*) OVER (PARTITION BY shard) AS n
        |  FROM base),
        |slotted AS (
        |  SELECT anchor, shard, rn, n,
        |    CAST(unnest(generate_series(1, 4)) AS BIGINT) AS slot
        |  FROM idx WHERE n >= 2),
        |cand AS (
        |  SELECT anchor, shard, slot,
        |    ((rn + (((anchor % 2147483647) * 40503 + slot * 69621) % 2147483647) % (n - 1))
        |      % n) + 1 AS neg_rn
        |  FROM slotted)
        |SELECT c.anchor, c.slot, i.anchor AS negative
        |FROM cand c JOIN idx i ON i.shard = c.shard AND i.rn = c.neg_rn
        |ORDER BY 1, 2""".stripMargin)),

    // Curation: keep the 3 longest documents per language (deterministic
    // tie-break on doc_id) — the rank filter rides WindowGroupLimit, so
    // each map task ships only its local top-k.
    Gate("curate_topk_per_lang", (s, dir) => {
      Sampling.topKPerGroup(table(s, dir, "documents"), Seq("lang"),
          Seq(col("n_chars").desc, col("doc_id").asc), k = 3)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    }, Sql(
      """WITH r AS (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |SELECT lang, doc_id, n_chars FROM r WHERE rk <= 3
        |ORDER BY lang, doc_id""".stripMargin)),

    // The composed curation pipeline, end to end in ONE oracle-checked
    // flow: exact dedup -> quality gate -> budget-constrained selection
    // (distributed prefix sum) -> deterministic shard export, summarized
    // from the PERSISTED shards. Each stage is an operator with its own
    // gate entry; this proves they compose.
    Gate("pipeline_curate", (s, dir) => {
      import graft.operators.{Dedup, Export}
      val corpus = Fixtures.dupDocuments(s, dir)
      val canon = Dedup.exact(corpus, "text", "doc_id")
        .select(col("canonical_id").as("doc_id"))
      val kept = corpus.join(canon, Seq("doc_id"))
        .filter(col("n_chars") >= 150)
      val selected = Sampling.budgetSelect(kept,
        (col("doc_id") * 37) % 1000, col("doc_id"), "n_chars",
        budget = 30000L, nPartitions = 8)
      val root = java.nio.file.Files.createTempDirectory("graft_pipeline").toString
      Export.shardedWrite(selected, "doc_id", 4, root, hashed = false)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
    }, Sql(
      """WITH corpus AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |), canon AS (
        |  SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY text
        |), kept AS (
        |  SELECT c.doc_id, c.n_chars FROM corpus c JOIN canon USING (doc_id)
        |  WHERE c.n_chars >= 150
        |), ranked AS (
        |  SELECT doc_id, n_chars,
        |         SUM(n_chars) OVER (ORDER BY (doc_id * 37) % 1000 DESC, doc_id) AS cum
        |  FROM kept
        |)
        |SELECT doc_id % 4 AS shard, COUNT(*) AS docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM ranked WHERE cum <= 30000 GROUP BY 1""".stripMargin)),

    // Budget-constrained curation: best-scoring docs until the char budget
    // fills — the window-free distributed prefix sum (range partitions +
    // driver offsets + per-partition running totals); the oracle is the
    // single-window spelling it replaces.
    Gate("curate_budget_select", (s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("score", (col("doc_id") * 37) % 1000)
      Sampling.budgetSelect(d, col("score"), col("doc_id"), "n_chars",
          budget = 50000L, nPartitions = 8)
        .select("doc_id", "score", "n_chars")
        .orderBy("doc_id")
    }, Sql(
      """WITH scored AS (
        |  SELECT doc_id, (doc_id * 37) % 1000 AS score, n_chars FROM documents
        |), ranked AS (
        |  SELECT doc_id, score, n_chars,
        |         SUM(n_chars) OVER (ORDER BY score DESC, doc_id ASC) AS cum
        |  FROM scored
        |)
        |SELECT doc_id, score, n_chars FROM ranked WHERE cum <= 50000
        |ORDER BY doc_id""".stripMargin)),

    // The FULL dedup pipeline composed end-to-end on a corpus planting
    // both exact copies and near-dup replays: exact stage drops the
    // byte-identical +200000 copies (min-id survivor), near-dup stage
    // groups the +100000 suffix replays and keeps the longest member.
    // Every stage is exact arithmetic -> the composed survivor set has a
    // single chained DuckDB oracle; PipelineDedupSpec pins idempotence.
    Gate("pipeline_dedup_full", (s, dir) => {
      val corpus = Fixtures.pipelineDedupCorpus(s, dir)
      Dedup.pipelineDedup(corpus, "text", "doc_id",
          corpus.select(col("doc_id"), length(col("text")).as("q")), "q")
        .select("doc_id").orderBy("doc_id")
    }, Sql(
      // pipeline_dedup_full: exact stage (min-id per identical text) chained
      // into the keep-best near-dup stage — the dedup_keep_best oracle over
      // the exact stage's survivors.
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graft near dup suffix' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0),
        |ex AS (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY text),
        |c2 AS (SELECT c.doc_id, c.text FROM corpus c JOIN ex USING (doc_id)),
        |words AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM c2),
        |idx AS (SELECT doc_id, ws,
        |        unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS i FROM words),
        |grams AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s FROM idx),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
        |  FROM grams x JOIN grams y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(v, r) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v),
        |comps AS (SELECT v AS doc_id, MIN(r) AS component FROM reach GROUP BY v),
        |ranked AS (
        |  SELECT k.doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY k.component
        |                            ORDER BY LENGTH(c.text) DESC, k.doc_id) AS rk
        |  FROM comps k JOIN c2 c ON c.doc_id = k.doc_id)
        |SELECT c.doc_id FROM c2 c
        |LEFT JOIN ranked r ON c.doc_id = r.doc_id AND r.rk > 1
        |WHERE r.doc_id IS NULL
        |ORDER BY c.doc_id""".stripMargin))
  )
}
