package graft

import graft.operators.{Par, Pin}

/** A pin is a MEMORY_AND_DISK persist behind a size gate; the gate and
  * the partition-width stat read the files the query then scans, so
  * they never hide a missing table behind a fallback. */
class PinSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("Par.forInput on a missing table throws instead of using width 1") {
    assert(Par.forInput(spark, sf, "documents") >= 1)
    intercept[java.io.FileNotFoundException] {
      Par.forInput(spark, sf, "no_such_table")
    }
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

  test("d12 reads d04's SimHash signature pin: after d04, d12 caches " +
      "no relation of its own") {
    import graft.queries.TextDedup
    val sc = spark.sparkContext
    spark.sharedState.cacheManager.clearCache()
    try {
      TextDedup.d04.run(spark, sf).collect()
      val before = sc.getPersistentRDDs.keySet
      TextDedup.d12.run(spark, sf).collect()
      val added = sc.getPersistentRDDs.keySet -- before
      assert(added.isEmpty, s"d12 cached ${added.size} new relation(s)")
    } finally spark.sharedState.cacheManager.clearCache()
  }
}
