package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact, engine-portable aggregation helpers.
  *
  * Summing IEEE doubles is order-dependent, and Spark's partial/final
  * aggregation order differs run-to-run and engine-to-engine. For results
  * that must hash-match an external oracle (DuckDB) we therefore sum
  * integers: each double is scaled and floored PER ROW (a deterministic
  * IEEE op on identical parquet input), summed exactly as BIGINT, and
  * descaled with a single final double division. Values with a fixed
  * number of decimals round-trip exactly; arbitrary doubles are truncated
  * at the chosen scale identically in every engine.
  */
object ExactSums {

  /** sum(floor(x * scale)) as bigint — combine with `descaled` for output. */
  def flooredSum(x: Column, scale: Long): Column =
    sum(floor(x * lit(scale.toDouble)).cast("long"))

  /** Exact sum of a money-like double (2 decimal places), emitted as double. */
  def moneySum(x: Column): Column = flooredSum(x, 100L) / lit(100.0)
}
