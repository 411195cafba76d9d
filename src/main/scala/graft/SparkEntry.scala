package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates.{Gate, Gates, Sql}

/** Driver contract — one gate per implemented operator (SURVEY.md §2),
  * each declared once in the [[graft.gates.Gates]] registry with its DuckDB
  * oracle where SQL-expressible. The three maps are views of the registry.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Exercises the whole lake core: partition+bucket split, upsert
    * (outer-join-coalesce), union view, aggregate.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("lake_upsert")(spark, "/root/testdata/sf0.001")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.all.map(g => g.name -> g.build).toMap

  /** Verify writes `oracle_sql.json` in this map's iteration order, so it
    * stays an immutable `Map`: its key set alone fixes the bytes.
    */
  val oracleSql: Map[String, String] =
    Gates.all.collect { case Gate(name, _, Sql(text), _) => name -> text }.toMap

  /** Fixture warm-ups Bench runs outside a gate's timed region. */
  val prewarm: Map[String, (SparkSession, String) => Unit] =
    Gates.all.flatMap(g => g.prewarm.map(g.name -> _)).toMap
}
