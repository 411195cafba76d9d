package graft.gates

import org.apache.spark.sql.functions._

import graft.Fixtures
import graft.Fixtures.table
import graft.operators.Graphs

/** Graph operators: co-purchase edges, triangles, k-core, clustering
  * coefficients and (personalized) PageRank.
  */
private[gates] object GraphGates {
  val gates: Seq[Gate] = Seq(
    // Bipartite projection: the weighted co-purchase graph (users sharing
    // bought items). One self equi-join on the item key — Σ degree² over
    // items, never |users|²; hub caps available for web-scale skew.
    Gate("graph_copurchase_edges", (s, dir) => {
      val bip = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
      Graphs.projectBipartite(bip, "user_id", "item")
        .orderBy("ua", "ub")
    }, Sql(
      """WITH b AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS item
        |  FROM events WHERE event_type = 'purchase')
        |SELECT a.u AS ua, b2.u AS ub, COUNT(*) AS w
        |FROM b a JOIN b b2 USING (item)
        |WHERE a.u < b2.u
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Per-vertex triangle counts on the strong (w>=5) co-purchase
    // backbone, via degree-ordered orientation (each triangle found
    // exactly once, O(m^1.5) wedge volume). The threshold matters for the
    // RIGHT reason: triangle counting is superlinear in density, and the
    // fixed 100-item space makes the w>=2 graph ~50% dense at sf0.1 —
    // backbone-thinning before triangles is exactly what a real
    // co-occurrence analysis does. Oracle = INDEPENDENT naive 3-way join.
    Gate("graph_triangles", (s, dir) => {
      val bip = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
      val strong = Graphs.projectBipartite(bip, "user_id", "item")
        .filter(col("w") >= 5)
      Graphs.triangleCounts(strong, "ua", "ub").orderBy("v")
    }, Sql(
      """WITH b AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS item
        |  FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT a.u AS x, b2.u AS y
        |      FROM b a JOIN b b2 USING (item)
        |      WHERE a.u < b2.u GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |t AS (SELECT e1.x AS v1, e1.y AS v2, e2.y AS v3
        |      FROM e e1
        |      JOIN e e2 ON e2.x = e1.y
        |      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |pv AS (SELECT unnest([v1, v2, v3]) AS v FROM t)
        |SELECT v, COUNT(*) AS triangles FROM pv
        |GROUP BY v ORDER BY v""".stripMargin)),

    // 3-core of the strong co-purchase backbone: parallel peeling to the
    // fixed point (3 rounds at sf0.01, peeling 57 of 100 vertices), each
    // survivor reported with its in-core degree. Oracle = the same rounds
    // unrolled in DuckDB (extra rounds are no-ops past the fixed point).
    Gate("graph_kcore", (s, dir) => {
      val bip = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
      val strong = Graphs.projectBipartite(bip, "user_id", "item")
        .filter(col("w") >= 5)
      Graphs.kCore(strong, "ua", "ub", k = 3).orderBy("v")
    }, Sql(
      """WITH b AS MATERIALIZED (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS item
        |  FROM events WHERE event_type = 'purchase'),
        |e0 AS MATERIALIZED (SELECT a.u AS a, b2.u AS b FROM b a JOIN b b2 USING (item)
        |       WHERE a.u < b2.u GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |d1 AS MATERIALIZED (SELECT v, COUNT(*) AS dg FROM (SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0) GROUP BY v),
        |a1 AS MATERIALIZED (SELECT v FROM d1 WHERE dg >= 3),
        |e1 AS MATERIALIZED (SELECT e.a, e.b FROM e0 e JOIN a1 x ON e.a = x.v JOIN a1 y ON e.b = y.v),
        |d2 AS MATERIALIZED (SELECT v, COUNT(*) AS dg FROM (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1) GROUP BY v),
        |a2 AS MATERIALIZED (SELECT v FROM d2 WHERE dg >= 3),
        |e2 AS MATERIALIZED (SELECT e.a, e.b FROM e1 e JOIN a2 x ON e.a = x.v JOIN a2 y ON e.b = y.v),
        |d3 AS MATERIALIZED (SELECT v, COUNT(*) AS dg FROM (SELECT a AS v FROM e2 UNION ALL SELECT b FROM e2) GROUP BY v),
        |a3 AS MATERIALIZED (SELECT v FROM d3 WHERE dg >= 3),
        |e3 AS MATERIALIZED (SELECT e.a, e.b FROM e2 e JOIN a3 x ON e.a = x.v JOIN a3 y ON e.b = y.v),
        |d4 AS MATERIALIZED (SELECT v, COUNT(*) AS dg FROM (SELECT a AS v FROM e3 UNION ALL SELECT b FROM e3) GROUP BY v),
        |a4 AS MATERIALIZED (SELECT v FROM d4 WHERE dg >= 3),
        |e4 AS MATERIALIZED (SELECT e.a, e.b FROM e3 e JOIN a4 x ON e.a = x.v JOIN a4 y ON e.b = y.v),
        |d5 AS MATERIALIZED (SELECT v, COUNT(*) AS dg FROM (SELECT a AS v FROM e4 UNION ALL SELECT b FROM e4) GROUP BY v),
        |a5 AS MATERIALIZED (SELECT v FROM d5 WHERE dg >= 3),
        |e5 AS MATERIALIZED (SELECT e.a, e.b FROM e4 e JOIN a5 x ON e.a = x.v JOIN a5 y ON e.b = y.v),
        |d6 AS MATERIALIZED (SELECT v, COUNT(*) AS dg FROM (SELECT a AS v FROM e5 UNION ALL SELECT b FROM e5) GROUP BY v),
        |a6 AS MATERIALIZED (SELECT v FROM d6 WHERE dg >= 3),
        |e6 AS MATERIALIZED (SELECT e.a, e.b FROM e5 e JOIN a6 x ON e.a = x.v JOIN a6 y ON e.b = y.v)
        |SELECT v, CAST(COUNT(*) AS BIGINT) AS core_deg
        |FROM (SELECT a AS v FROM e6 UNION ALL SELECT b FROM e6)
        |GROUP BY v ORDER BY v""".stripMargin)),

    // Personalized, edge-weighted PageRank: trust propagates from the
    // seed users (id % 10 == 0) over shared-item weights — TrustRank-style
    // quality curation; unreachable vertices score exactly 0. Oracle
    // unrolls the identical 3 integer-grid iterations.
    Gate("graph_ppr_weighted", (s, dir) => {
      val bip = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
      val strong = Graphs.projectBipartite(bip, "user_id", "item")
        .filter(col("w") >= 2)
      val seeds = bip.select(col("user_id")).distinct()
        .filter(col("user_id") % 10 === 0)
      Graphs.personalizedPageRankInt(strong, "ua", "ub", "w",
          seeds, "user_id", iters = 3)
        .orderBy("v")
    }, Sql(
      """WITH b AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS item
        |  FROM events WHERE event_type = 'purchase'),
        |e0 AS (SELECT a.u AS x, b2.u AS y, COUNT(*) AS w
        |       FROM b a JOIN b b2 USING (item)
        |       WHERE a.u < b2.u GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT x AS u, y AS v, w FROM e0
        |      UNION ALL SELECT y AS u, x AS v, w FROM e0),
        |wt AS (SELECT u, SUM(w) AS wt FROM e GROUP BY u),
        |s0 AS (SELECT u, CASE WHEN u % 10 = 0 THEN CAST(1000000 AS BIGINT)
        |                      ELSE CAST(0 AS BIGINT) END AS s FROM wt),
        |i1 AS (SELECT e.v AS u, SUM((s0.s * e.w) // wt.wt) AS m
        |       FROM e JOIN s0 ON s0.u = e.u JOIN wt ON wt.u = e.u GROUP BY e.v),
        |s1 AS (SELECT wt.u, (CASE WHEN wt.u % 10 = 0 THEN 150000 ELSE 0 END)
        |         + (850000 * COALESCE(i1.m, 0)) // 1000000 AS s
        |       FROM wt LEFT JOIN i1 ON i1.u = wt.u),
        |i2 AS (SELECT e.v AS u, SUM((s1.s * e.w) // wt.wt) AS m
        |       FROM e JOIN s1 ON s1.u = e.u JOIN wt ON wt.u = e.u GROUP BY e.v),
        |s2 AS (SELECT wt.u, (CASE WHEN wt.u % 10 = 0 THEN 150000 ELSE 0 END)
        |         + (850000 * COALESCE(i2.m, 0)) // 1000000 AS s
        |       FROM wt LEFT JOIN i2 ON i2.u = wt.u),
        |i3 AS (SELECT e.v AS u, SUM((s2.s * e.w) // wt.wt) AS m
        |       FROM e JOIN s2 ON s2.u = e.u JOIN wt ON wt.u = e.u GROUP BY e.v),
        |s3 AS (SELECT wt.u, (CASE WHEN wt.u % 10 = 0 THEN 150000 ELSE 0 END)
        |         + (850000 * COALESCE(i3.m, 0)) // 1000000 AS s
        |       FROM wt LEFT JOIN i3 ON i3.u = wt.u)
        |SELECT u AS v, CAST(s AS BIGINT) AS pr FROM s3 ORDER BY v""".stripMargin)),

    // Local clustering coefficients on the strong co-purchase backbone —
    // the "abnormally cliquish neighborhood" spam/farm signal. Exact
    // integers + one IEEE division -> fully oracle-checkable.
    Gate("graph_clustering_coeff", (s, dir) => {
      val bip = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
      val strong = Graphs.projectBipartite(bip, "user_id", "item")
        .filter(col("w") >= 5)
      Graphs.clusteringCoefficients(strong, "ua", "ub").orderBy("v")
    }, Sql(
      """WITH b AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS item
        |  FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT a.u AS x, b2.u AS y
        |      FROM b a JOIN b b2 USING (item)
        |      WHERE a.u < b2.u GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        |both_dir AS (SELECT x AS v FROM e UNION ALL SELECT y FROM e),
        |deg AS (SELECT v, COUNT(*) AS degree FROM both_dir GROUP BY v),
        |t AS (SELECT e1.x AS v1, e1.y AS v2, e2.y AS v3
        |      FROM e e1
        |      JOIN e e2 ON e2.x = e1.y
        |      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |pv AS (SELECT unnest([v1, v2, v3]) AS v FROM t),
        |tri AS (SELECT v, COUNT(*) AS triangles FROM pv GROUP BY v)
        |SELECT deg.v, deg.degree,
        |  COALESCE(tri.triangles, 0) AS triangles,
        |  CASE WHEN deg.degree > 1
        |       THEN COALESCE(tri.triangles, 0) * 2.0 / (deg.degree * (deg.degree - 1))
        |       ELSE 0.0 END AS coeff
        |FROM deg LEFT JOIN tri ON tri.v = deg.v
        |ORDER BY deg.v""".stripMargin)),

    // Integer-grid PageRank (3 iterations, damping 0.85 as the exact
    // rational 850000/1e6) on the strong co-purchase graph — the site-
    // authority curation signal, bit-reproducible: the oracle unrolls the
    // SAME iterations in DuckDB. One join + one groupBy per iteration.
    Gate("graph_pagerank_int", (s, dir) => {
      val bip = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
      val strong = Graphs.projectBipartite(bip, "user_id", "item")
        .filter(col("w") >= 2)
      Graphs.pageRankInt(strong, "ua", "ub", iters = 3).orderBy("v")
    }, Sql(
      """WITH b AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS item
        |  FROM events WHERE event_type = 'purchase'),
        |e0 AS (SELECT a.u AS x, b2.u AS y FROM b a JOIN b b2 USING (item)
        |       WHERE a.u < b2.u GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT x AS u, y AS v FROM e0 UNION ALL SELECT y AS u, x AS v FROM e0),
        |deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
        |s0 AS (SELECT u, CAST(1000000 AS BIGINT) AS s FROM deg),
        |i1 AS (SELECT e.v AS u, SUM(s0.s // deg.d) AS m
        |       FROM e JOIN s0 ON s0.u = e.u JOIN deg ON deg.u = e.u GROUP BY e.v),
        |s1 AS (SELECT deg.u, 150000 + (850000 * COALESCE(i1.m, 0)) // 1000000 AS s
        |       FROM deg LEFT JOIN i1 ON i1.u = deg.u),
        |i2 AS (SELECT e.v AS u, SUM(s1.s // deg.d) AS m
        |       FROM e JOIN s1 ON s1.u = e.u JOIN deg ON deg.u = e.u GROUP BY e.v),
        |s2 AS (SELECT deg.u, 150000 + (850000 * COALESCE(i2.m, 0)) // 1000000 AS s
        |       FROM deg LEFT JOIN i2 ON i2.u = deg.u),
        |i3 AS (SELECT e.v AS u, SUM(s2.s // deg.d) AS m
        |       FROM e JOIN s2 ON s2.u = e.u JOIN deg ON deg.u = e.u GROUP BY e.v),
        |s3 AS (SELECT deg.u, 150000 + (850000 * COALESCE(i3.m, 0)) // 1000000 AS s
        |       FROM deg LEFT JOIN i3 ON i3.u = deg.u)
        |SELECT u AS v, CAST(s AS BIGINT) AS pr FROM s3 ORDER BY v""".stripMargin)),

    // DIRECTED weighted PERSONALIZED PageRank — the full TrustRank shape,
    // completing the 2x2 (direction x personalization): trust spreads from
    // seed users along parity-directed weighted co-purchase edges; dangling
    // mass returns to the SEEDS (damped), not to arbitrary vertices.
    // Oracle unrolls the identical 3 integer-grid rounds.
    Gate("graph_ppr_directed", (s, dir) => {
      val bip = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
      val strong = Graphs.projectBipartite(bip, "user_id", "item")
        .filter(col("w") >= 2)
      val directed = strong.select(
        when((col("ua") + col("ub")) % 2 === 0, col("ua")).otherwise(col("ub")).as("src"),
        when((col("ua") + col("ub")) % 2 === 0, col("ub")).otherwise(col("ua")).as("dst"),
        col("w"))
      val seeds = bip.select(col("user_id")).distinct()
        .filter(col("user_id") % 10 === 0)
      Graphs.personalizedPageRankDirectedInt(directed, "src", "dst", "w",
          seeds, "user_id", iters = 3)
        .orderBy("v")
    }, Sql(
      """WITH b AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS item
        |  FROM events WHERE event_type = 'purchase'),
        |e0 AS (SELECT a.u AS x, b2.u AS y, COUNT(*) AS w
        |       FROM b a JOIN b b2 USING (item)
        |       WHERE a.u < b2.u GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT CASE WHEN (x + y) % 2 = 0 THEN x ELSE y END AS u,
        |             CASE WHEN (x + y) % 2 = 0 THEN y ELSE x END AS v, w FROM e0),
        |verts AS (SELECT u FROM e UNION SELECT v FROM e),
        |wt AS (SELECT u, SUM(w) AS wt FROM e GROUP BY u),
        |seeds AS (SELECT u FROM verts WHERE u % 10 = 0),
        |ns AS (SELECT COUNT(*) AS n FROM seeds),
        |s0 AS (SELECT u, CASE WHEN u IN (SELECT u FROM seeds)
        |                 THEN CAST(1000000 AS BIGINT) ELSE 0 END AS s FROM verts),
        |d1 AS (SELECT COALESCE(SUM(s), 0) AS dm FROM s0
        |       WHERE u NOT IN (SELECT u FROM wt)),
        |i1 AS (SELECT e.v AS u, SUM((s0.s * e.w) // wt.wt) AS m
        |       FROM e JOIN s0 ON s0.u = e.u JOIN wt ON wt.u = e.u GROUP BY e.v),
        |s1 AS (SELECT verts.u,
        |         (CASE WHEN verts.u IN (SELECT u FROM seeds) THEN 150000 ELSE 0 END) +
        |         (850000 * (COALESCE(i1.m, 0) +
        |            CASE WHEN verts.u IN (SELECT u FROM seeds)
        |            THEN (SELECT dm FROM d1) // (SELECT n FROM ns) ELSE 0 END))
        |           // 1000000 AS s
        |       FROM verts LEFT JOIN i1 ON i1.u = verts.u),
        |d2 AS (SELECT COALESCE(SUM(s), 0) AS dm FROM s1
        |       WHERE u NOT IN (SELECT u FROM wt)),
        |i2 AS (SELECT e.v AS u, SUM((s1.s * e.w) // wt.wt) AS m
        |       FROM e JOIN s1 ON s1.u = e.u JOIN wt ON wt.u = e.u GROUP BY e.v),
        |s2 AS (SELECT verts.u,
        |         (CASE WHEN verts.u IN (SELECT u FROM seeds) THEN 150000 ELSE 0 END) +
        |         (850000 * (COALESCE(i2.m, 0) +
        |            CASE WHEN verts.u IN (SELECT u FROM seeds)
        |            THEN (SELECT dm FROM d2) // (SELECT n FROM ns) ELSE 0 END))
        |           // 1000000 AS s
        |       FROM verts LEFT JOIN i2 ON i2.u = verts.u),
        |d3 AS (SELECT COALESCE(SUM(s), 0) AS dm FROM s2
        |       WHERE u NOT IN (SELECT u FROM wt)),
        |i3 AS (SELECT e.v AS u, SUM((s2.s * e.w) // wt.wt) AS m
        |       FROM e JOIN s2 ON s2.u = e.u JOIN wt ON wt.u = e.u GROUP BY e.v),
        |s3 AS (SELECT verts.u,
        |         (CASE WHEN verts.u IN (SELECT u FROM seeds) THEN 150000 ELSE 0 END) +
        |         (850000 * (COALESCE(i3.m, 0) +
        |            CASE WHEN verts.u IN (SELECT u FROM seeds)
        |            THEN (SELECT dm FROM d3) // (SELECT n FROM ns) ELSE 0 END))
        |           // 1000000 AS s
        |       FROM verts LEFT JOIN i3 ON i3.u = verts.u)
        |SELECT u AS v, CAST(s AS BIGINT) AS pr FROM s3 ORDER BY v""".stripMargin)),

    // DIRECTED PageRank: the real link-graph semantics (authority ≠ hub).
    // Edges = the strong co-purchase pairs directed by (x+y) parity — a
    // deterministic mixed-direction graph WITH genuine dangling vertices
    // (pure sinks), whose mass redistributes uniformly on the integer grid
    // each round (D div n, exact rational). Oracle unrolls the identical
    // 3 iterations, dangling aggregate included, in DuckDB.
    Gate("graph_pagerank_directed", (s, dir) => {
      val bip = table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
      val strong = Graphs.projectBipartite(bip, "user_id", "item")
        .filter(col("w") >= 2)
      val directed = strong.select(
        when((col("ua") + col("ub")) % 2 === 0, col("ua")).otherwise(col("ub")).as("src"),
        when((col("ua") + col("ub")) % 2 === 0, col("ub")).otherwise(col("ua")).as("dst"))
      Graphs.pageRankDirectedInt(directed, "src", "dst", iters = 3).orderBy("v")
    }, Sql(
      """WITH b AS (
        |  SELECT DISTINCT user_id AS u,
        |    CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT) AS item
        |  FROM events WHERE event_type = 'purchase'),
        |e0 AS (SELECT a.u AS x, b2.u AS y FROM b a JOIN b b2 USING (item)
        |       WHERE a.u < b2.u GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |e AS (SELECT CASE WHEN (x + y) % 2 = 0 THEN x ELSE y END AS u,
        |             CASE WHEN (x + y) % 2 = 0 THEN y ELSE x END AS v FROM e0),
        |verts AS (SELECT u FROM e UNION SELECT v FROM e),
        |nv AS (SELECT COUNT(*) AS n FROM verts),
        |od AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
        |s0 AS (SELECT u, CAST(1000000 AS BIGINT) AS s FROM verts),
        |d1 AS (SELECT COALESCE(SUM(s), 0) AS dm FROM s0
        |       WHERE u NOT IN (SELECT u FROM od)),
        |i1 AS (SELECT e.v AS u, SUM(s0.s // od.d) AS m
        |       FROM e JOIN s0 ON s0.u = e.u JOIN od ON od.u = e.u GROUP BY e.v),
        |s1 AS (SELECT verts.u, 150000 + (850000 * (COALESCE(i1.m, 0) +
        |         (SELECT dm FROM d1) // (SELECT n FROM nv))) // 1000000 AS s
        |       FROM verts LEFT JOIN i1 ON i1.u = verts.u),
        |d2 AS (SELECT COALESCE(SUM(s), 0) AS dm FROM s1
        |       WHERE u NOT IN (SELECT u FROM od)),
        |i2 AS (SELECT e.v AS u, SUM(s1.s // od.d) AS m
        |       FROM e JOIN s1 ON s1.u = e.u JOIN od ON od.u = e.u GROUP BY e.v),
        |s2 AS (SELECT verts.u, 150000 + (850000 * (COALESCE(i2.m, 0) +
        |         (SELECT dm FROM d2) // (SELECT n FROM nv))) // 1000000 AS s
        |       FROM verts LEFT JOIN i2 ON i2.u = verts.u),
        |d3 AS (SELECT COALESCE(SUM(s), 0) AS dm FROM s2
        |       WHERE u NOT IN (SELECT u FROM od)),
        |i3 AS (SELECT e.v AS u, SUM(s2.s // od.d) AS m
        |       FROM e JOIN s2 ON s2.u = e.u JOIN od ON od.u = e.u GROUP BY e.v),
        |s3 AS (SELECT verts.u, 150000 + (850000 * (COALESCE(i3.m, 0) +
        |         (SELECT dm FROM d3) // (SELECT n FROM nv))) // 1000000 AS s
        |       FROM verts LEFT JOIN i3 ON i3.u = verts.u)
        |SELECT u AS v, CAST(s AS BIGINT) AS pr FROM s3 ORDER BY v""".stripMargin))
  )
}
