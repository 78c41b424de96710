package graft

import graft.operators.Pin
import graft.queries.TextDedup
import org.apache.spark.sql.Row

/** The `spark.graft.pin` knob trades local-mode speed
  * (localCheckpoint) against cluster fault tolerance (persist with
  * lineage kept) — results must be identical in every mode, for both
  * a fan-out consumer (d02) and an iterative one (BFS reachability).
  */
class PinSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def withMode[A](mode: String)(body: => A): A = {
    val prev = spark.conf.getOption(Pin.Key)
    spark.conf.set(Pin.Key, mode)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(Pin.Key, v)
      case None => spark.conf.unset(Pin.Key)
    }
  }

  private def run(mode: String): Seq[Row] = withMode(mode) {
    TextDedup.d02.run(spark, sf)
      .orderBy("doc_a", "doc_b").collect().toSeq
  }

  test("d02 results identical across pin modes") {
    val base = run("localCheckpoint")
    assert(base.nonEmpty)
    assert(run("persist") === base)
    assert(run("none") === base)
  }

  test("size gate: an over-ceiling pin is skipped (no InMemoryRelation" +
      "), results identical, consumers stay at one scan each") {
    import graft.queries.VectorSearch
    val baseline = VectorSearch.v01.run(spark, sf)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(baseline.nonEmpty)
    spark.conf.set(Pin.MaxEstBytesKey, "0") // the 100 TB-shaped path
    try {
      spark.sharedState.cacheManager.clearCache()
      val df = VectorSearch.v01.run(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("InMemoryRelation"),
        "pin engaged despite a 0-byte ceiling")
      // one scan per eFrame consumer at most: v01 has two (corpus +
      // broadcast query side) — a blowup here means a consumer
      // re-expanded the pinned subtree more than once
      val scans = "Scan parquet".r.findAllIn(plan).length
      assert(scans <= 2, s"expected <=2 embeddings scans, got $scans")
      assert(df.orderBy("q_id", "rnk").collect().toSeq === baseline)
    } finally {
      spark.conf.unset(Pin.MaxEstBytesKey)
      spark.sharedState.cacheManager.clearCache()
    }
  }
}
