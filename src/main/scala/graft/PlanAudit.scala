package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan inspection harness: prints the formatted physical plan of
  * selected registry queries so scan pruning (ReadSchema), filter
  * pushdown (PushedFilters), join strategies and shuffle counts can be
  * audited. Expression ids (`#123L`) print as `#` and exchange ids
  * (`plan_id=45`) as `plan_id=`, so the dumps of two commits diff line
  * for line. Not part of the driver contract. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    // the bench/verify session, so the audit sees the engine they run
    val spark = Sessions.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.registry
      .filter(q => names.isEmpty || names.contains(q.name))
      .foreach { q =>
        println(s"\n===== ${q.name} =====")
        println(q.run(spark, dir).queryExecution
          .explainString(FormattedMode)
          .replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id="))
      }
    spark.stop()
  }
}
