package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.QualifiedTableName
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, NO_BROADCAST_HASH, ResolvedHint}

/** Bridge to the `private[sql]` Column↔Expression converters — the
  * supported way for a library to wrap its own Catalyst expressions as
  * Columns without registering them in a session's FunctionRegistry
  * (classic mode; `classic.ExpressionUtils`). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Free the executor blocks behind a `localCheckpoint` frame.
    * `Dataset.unpersist` is a no-op for checkpointed frames (they never
    * register with the cache manager), so without this the blocks live
    * until the driver happens to GC the RDD reference — unbounded
    * accumulation for iterative loops that checkpoint per round. Only
    * safe once every consumer of the frame has materialized: a
    * checkpointed frame's data is NOT recomputable. */
  def releaseLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** Block until every listener event posted so far is delivered
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `df` as a join input that is never broadcast: Catalyst's
    * `NO_BROADCAST_HASH` strategy hint (the one AQE itself puts on a
    * side it would rather stream), which has no public hint name. The
    * other input may still be broadcast, and with neither broadcast the
    * join shuffles as usual, so no size is forced at any scale. */
  def noBroadcast(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession, ResolvedHint(ds.logicalPlan,
      HintInfo(strategy = Some(NO_BROADCAST_HASH))))
  }

  /** A DataFrame over `build()`'s analyzed plan, built once per
    * (session, `key`) and cached in the session catalog's relation
    * cache, the per-session cache Spark keeps for catalog tables
    * (`SessionCatalog.getCachedPlan`, bounded by
    * `spark.sql.filesourceTableRelationCacheSize`). The entry is
    * reachable only from its session, so it goes when the session does;
    * a JVM-wide map would keep every session it has seen, since the
    * cached plan references its session. The key's catalog name
    * (`graft`) is not a registered catalog, so no table lookup can
    * resolve to it. */
  def sessionRelation(spark: SparkSession, key: String)(
      build: () => DataFrame): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val plan = s.sessionState.catalog.getCachedPlan(
      QualifiedTableName("graft", "relation", key),
      () => build().asInstanceOf[classic.Dataset[Row]].logicalPlan)
    classic.Dataset.ofRows(s, plan)
  }
}
