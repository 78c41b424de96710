package graft

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * The reference engine scans many small JSON files per query
  * (aden-hive-fork `storage/session_store.py:121-173`); here every
  * analytics surface reads columnar Parquet so Catalyst gets
  * predicate pushdown + column pruning for free. At 100 TB these
  * reads become partitioned multi-file scans — the code is
  * identical, only the path glob changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table's relation, resolved once per (session, path). Re-creating
    * the DataFrame per query re-lists files and re-infers the parquet
    * schema in a Spark job — pure per-query latency that a long-lived
    * session (or a catalog table at cluster scale) never pays. The
    * analyzed plan is immutable, so sharing it across queries is safe.
    * It is cached in the session's own catalog relation cache
    * (`GraftColumnBridge.sessionRelation`), so it lives as long as the
    * session and no longer: a released session's relations go with it. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    GraftColumnBridge.sessionRelation(spark, path) { () =>
      if (name == "events") {
        // events.ts is TIMESTAMP(NANOS) parquet, which Spark's vectorized
        // reader rejects; read it as a LongType of epoch-nanoseconds.
        // Millisecond values derive via INTEGER division (`ts div 1000000`)
        // — float division loses precision at 1.7e18-ns magnitudes.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      }
      val df = spark.read.parquet(path)
      if (name == "events") normalizeEventTs(df) else df
    }
  }

  /** The engine-wide `events.ts` contract is epoch-NANOS BIGINT (every
    * consumer derives ms via `ts div 1000000`, matching the oracle's
    * `epoch_ms(ts)`). Driver testdata generations have shipped ts as
    * TIMESTAMP(NANOS) — covered by the nanosAsLong read above — and as
    * TIMESTAMP(MICROS), which arrives as a real (NTZ) timestamp
    * column; normalize the latter back to nanos here, in the one
    * loader, instead of teaching every query two ts types. The NTZ →
    * LTZ cast is wall-clock-identical under the session's pinned UTC
    * (Sessions.local), exactly how DuckDB's epoch_ms reads the naive
    * value; unix_micros·1000 stays well under Long.Max (1.7e18 ns). */
  private def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) | Some(TimestampType) =>
        df.withColumn("ts", org.apache.spark.sql.functions
          .expr("unix_micros(cast(ts as timestamp_ltz)) * 1000L"))
      case _ => df
    }
  }

  /** Register every table as a temp view (the family-A SQL surface:
    * reference registers each CSV/sheet as a queryable table,
    * `csv_tool.py:355-358`, `excel_tool.py:574-617`).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
