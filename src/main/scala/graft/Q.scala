package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared operator/query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  *
  * Determinism contract (SURVEY.md §7.4): every query ends with a total
  * ORDER BY; money/quantity aggregates cast to DECIMAL before summing;
  * unavoidable doubles rounded to 4-6 dp identically on both sides;
  * no rand()/now(); session TZ pinned UTC.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))

  /** A SQL-only surface (ROLLUP with GROUPING, GROUPING SETS, LATERAL,
    * correlated subqueries): Spark runs the oracle text itself over the
    * registered tables, so one string serves both engines. */
  def sql(name: String, text: String): Q =
    Q(name, text) { (s, d) => Tables.registerAll(s, d); s.sql(text) }

  /** Non-SQL-expressible operator: rows-only check by the driver, semantic
    * coverage lives in the ScalaTest suite instead. */
  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, None)
}
