package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: its Spark body over a test-data directory
  * and the DuckDB SQL that must return the same rows. Column names are
  * aliased identically on both sides (the driver's compare sorts
  * columns by name before hashing).
  *
  * @param lifecycle the query's wall time is dominated by an
  *   index/trainer LIFECYCLE (full build + serve of a persisted
  *   artifact, a model retrain, or a tuning grid of serves) rather than
  *   one serving pass. The bench JSON tags these and reports
  *   `total_ex_lifecycle` alongside `total`, so the 2x-of-baseline
  *   contract math (BASELINE.md's "suite average excluding…" prose) is
  *   machine-readable instead of narrative.
  */
final case class Query(
    name: String,
    body: (SparkSession, String) => DataFrame,
    oracle: String,
    lifecycle: Boolean = false)

object Query {

  /** The queries of `groups`, in order; a name given twice fails here
    * instead of one entry silently replacing the other. */
  def registry(groups: Seq[Query]*): Seq[Query] = {
    val all = groups.flatten
    val repeated = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty,
      s"query names given twice: ${repeated.toSeq.sorted.mkString(", ")}")
    all
  }
}
