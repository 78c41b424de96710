package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Steady state compiles nothing: `Sessions.local` sizes Spark's
  * generated-class cache above the registry's distinct classes and
  * drops the stage id from class names, so running the same queries a
  * second time finds every class in the cache. A literal or id that is
  * baked into generated code and changes per invocation shows up here
  * as a recompile. */
class CodegenCacheSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("a second round of the same registered queries compiles no class") {
    val picked = Seq("q01", "q09", "e05", "d02", "v03", "v09", "v20").map(id =>
      SparkEntry.registry.find(_.name.startsWith(id + "_"))
        .getOrElse(fail(s"no registered query $id")))
    def round(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      picked.foreach(_.run(spark, dir)
        .write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    round()
    assert(round() === 0)
  }
}
