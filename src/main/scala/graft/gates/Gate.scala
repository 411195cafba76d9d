package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared gate of the driver contract: its result over a test-data
  * directory, how DuckDB checks that result, and an optional warm-up.
  *
  * @param build   the gate's result over the tables of a test-data directory
  * @param oracle  how the driver checks the rows
  * @param prewarm a fixture build Bench runs OUTSIDE the gate's timed
  *                region: these memoized builds are index BOOTSTRAPS (a
  *                corpus-sized one-off a real deployment amortizes across
  *                its query stream), so letting the first timed run pay them
  *                would measure bootstrap+operator instead of the operator.
  *                An erasure fixture's build + erase + reopen is index
  *                MAINTENANCE, amortized the same way; the timed query is the
  *                probe over the post-erasure index. Verify is unaffected —
  *                correctness includes the bootstrap.
  */
final case class Gate(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    prewarm: Option[(SparkSession, String) => Unit] = None)

/** How the driver checks a gate's rows. */
sealed trait Oracle

/** DuckDB SQL over the same test-data tables; the gate's rows must match
  * its rows after both are sorted by column name and by row.
  */
final case class Sql(text: String) extends Oracle

/** No DuckDB oracle: the rows rest on hashing, floating-point libm calls or
  * sketch internals DuckDB cannot reproduce, so the driver only checks that
  * there are rows. `twin` names the oracle-checked gate that runs the same
  * machinery on portable arithmetic (COVERAGE.md, "`no_oracle` entries and
  * their oracle-checked exact twins").
  */
final case class RowsOnly(reason: String, twin: String) extends Oracle

/** The registry: every gate, family by family. */
object Gates {
  val all: Seq[Gate] = {
    val gates = SqlGates.gates ++ LakeGates.gates ++ StreamGates.gates ++
      TextGates.gates ++ DedupGates.gates ++ AnnGates.gates ++
      GraphGates.gates ++ TrainingDataGates.gates
    val twice = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(twice.isEmpty, s"gate declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    gates
  }
}
