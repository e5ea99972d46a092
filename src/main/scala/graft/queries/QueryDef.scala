package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability: a Spark-first implementation plus (where the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query
  * for the driver's hash-compare gate.
  *
  * Determinism contract (both sides):
  *   - every output column is explicitly aliased, names identical;
  *   - result row order is pinned with a total ORDER BY;
  *   - floating-point aggregation is done in DECIMAL (exact) or in ways
  *     where both engines perform the identical IEEE operation sequence
  *     (single division, windowed running sums over a pinned order);
  *   - no raw nanosecond timestamps in output (Spark truncates parquet
  *     ns→µs; DuckDB may keep ns) — emit epoch seconds / truncated units.
  */
final case class QueryDef(
    name: String,
    oracle: Option[String],
    build: (SparkSession, String) => DataFrame,
    bench: Boolean = true)

object QueryDef {
  def apply(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracle), build)

  def noOracle(name: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, None, build)

  /** Correctness-only entry: excluded from Bench timing (e.g. streaming
    * E2E demos whose latency is publisher-paced, not engine-paced). */
  def noBench(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(oracle), build, bench = false)
}
