package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: the Spark-first implementation plus
  * (when SQL-expressible) the DuckDB oracle the driver diff-tests
  * against. Keeping both in one value keeps column aliases in sync —
  * the driver's compare sorts columns BY NAME before hashing.
  *
  * Oracle-parity rules used throughout the inventory:
  *  - money/ratio aggregations sum exactly (order-independent,
  *    bit-identical across engines), cast to DOUBLE only at the end:
  *    TPC-H money sums integer cents (`Relational.cents`) with `Sum128`,
  *    a DECIMAL(38,0) result, against the oracle's HUGEINT
  *    `SUM(BIGINT)`; event values sum as DECIMAL(12,2) on both sides;
  *  - divisions happen in IEEE double on exact inputs (deterministic);
  *  - timestamps are compared at epoch-millisecond precision (events.ts
  *    is ns in parquet; Spark reads the full ns value via nanosAsLong,
  *    DuckDB 1.x reads it µs-TRUNCATED — so raw-ts comparisons against
  *    the oracle are only safe at µs or coarser; ms is the precision
  *    the inventory standardizes on);
  *  - every ORDER BY ... LIMIT has a unique-key tiebreak so both
  *    engines select the same row set.
  */
final class Q(
    val name: String,
    val run: (SparkSession, String) => DataFrame,
    oracleThunk: Option[() => String]) {
  /** Lazy-once: oracle TEXT may do filesystem work to build itself
    * (q28 resolves — and on the classpath path copies — its CSV
    * fixture into the interpolated SQL), so it must not run at
    * registry construction; it renders on first use (Verify's dump,
    * a spec) and is cached for the JVM (VERDICT r10 ask #8). */
  lazy val oracle: Option[String] = oracleThunk.map(_())
}

object Q {
  def apply(name: String, oracle: => String)(
      run: (SparkSession, String) => DataFrame): Q =
    new Q(name, run, Some(() => oracle))

  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): Q =
    new Q(name, run, None)
}
