package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.{Gate, Gates, RowsOnly, Sql}

/** The gate registry's shape, and COVERAGE.md's rows-only table against it.
  * Runs no Spark job: no gate is built.
  */
class GateRegistrySpec extends AnyFunSuite {
  private val names = Gates.all.map(_.name)
  private val sql = Gates.all.collect { case Gate(n, _, Sql(_), _) => n }.toSet
  private val rowsOnly = Gates.all.collect { case Gate(n, _, RowsOnly(_, twin), _) => n -> twin }.toMap

  test("271 unique gates: 248 DuckDB oracles and 23 rows-only") {
    assert(names.size == 271 && names.distinct.size == 271)
    assert(sql.size == 248 && rowsOnly.size == 23)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == sql)
  }

  test("every rows-only twin is a registered gate with a DuckDB oracle") {
    val bad = rowsOnly.filter { case (_, twin) => !sql.contains(twin) }
    assert(bad.isEmpty, s"twins without a DuckDB oracle: $bad")
  }

  test("every prewarm belongs to a registered gate") {
    assert(SparkEntry.prewarm.keySet.subsetOf(names.toSet))
  }

  test("COVERAGE.md's rows-only table lists exactly the rows-only gates and their twins") {
    val lines = Files.readAllLines(Paths.get("COVERAGE.md")).asScala
    val table = lines.dropWhile(!_.startsWith("| rows-only query | why no oracle |"))
      .drop(2).takeWhile(_.startsWith("| `"))
    val name = """`(\w+)`""".r
    val rows = table.map { r =>
      val cells = r.split('|').map(_.trim)
      name.findFirstMatchIn(cells(1)).get.group(1) ->
        name.findFirstMatchIn(cells(3)).get.group(1)
    }
    assert(rows.size == rows.map(_._1).distinct.size, "duplicate rows in the rows-only table")
    assert(rows.toMap == rowsOnly)
  }
}
