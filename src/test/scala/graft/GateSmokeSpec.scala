package graft

import org.apache.spark.sql.functions._

/** Gate queries vs their own oracle SQL, executed by Spark over the raw
  * tables — catches column-name/type drift before the driver's DuckDB
  * compare (the hash gate sorts columns by NAME, so an alias mismatch fails
  * even with identical values). The suites below differ only in the gates
  * they name, one suite per round those gates were added in.
  */
abstract class GateSmokeSpec(gates: String*) extends SparkSpec {

  private def check(name: String): Unit = {
    val dir = sf()
    val got = SparkEntry.queries(name)(spark, dir)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents").foreach { t =>
      Fixtures.table(spark, dir, t).createOrReplaceTempView(t)
    }
    val want = spark.sql(SparkEntry.oracleSql(name))
    assert(got.columns.sorted.toSeq == want.columns.sorted.toSeq,
      s"$name column names: ${got.columns.toSeq} vs ${want.columns.toSeq}")
    // The driver's hash gate sorts rows as well as columns — compare sorted.
    val g = got.select(got.columns.sorted.map(col): _*)
      .collect().toSeq.sortBy(_.toString)
    val w = want.select(want.columns.sorted.map(col): _*)
      .collect().toSeq.sortBy(_.toString)
    assert(g == w, s"$name: ${g.take(3)} vs ${w.take(3)}")
  }

  for (g <- gates) test(s"$g matches its oracle") { check(g) }
}

class GateSmokeR7Spec extends GateSmokeSpec(
  "lake_orc_roundtrip", "lake_zorder_pruning", "lake_mat_view",
  "lake_change_feed", "lake_time_travel")

/** `lake_validated_ingest` is absent: its oracle uses DuckDB's
  * `regexp_matches`, which Spark SQL does not parse — it is covered by the
  * driver gate and DiffSpec.
  */
class GateSmokeR7cSpec extends GateSmokeSpec(
  "lake_stats_meta", "lake_sql_stats_meta", "lake_stats_meta_grouped",
  "lake_sql_stats_meta_filtered", "lake_dpp_join", "export_shards",
  "lake_delete_where", "lake_update_where", "lake_sql_dml",
  "lake_sql_merge", "lake_sql_copy", "lake_sql_optimize", "lake_relayout",
  "lake_diff", "curate_budget_select", "pipeline_curate")

class GateSmokeR8Spec extends GateSmokeSpec(
  "lake_stats_sum", "lake_sql_stats_sum", "lake_sql_stats_sum_grouped",
  "lake_sql_time_travel", "lake_sql_zorder", "lake_sql_history",
  "lake_sql_restore",
  "lake_sql_ctas", "lake_sql_clone", "lake_sql_constraint",
  "lake_sql_detail", "lake_sql_analyze", "lake_sql_show_partitions",
  "lake_sql_alter_columns", "lake_sql_matview", "lake_sql_merge_cdc",
  "lake_stats_hybrid", "lake_stats_hybrid_sum", "lake_topk",
  "lake_topk_price", "lake_sql_count_distinct")
