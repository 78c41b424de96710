package graft

/** The profiling main's counts are repeatable: two steady-state reps
  * of one plan report the same, non-zero jobs, stages and tasks, and
  * each rep's construction time lies within its end-to-end time. They
  * also guard the cold regime: the queries whose construction runs
  * jobs keep their audited first-rep job counts. */
class BenchProfileSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  test("steady-state reps report identical, non-zero job, stage and " +
      "task counts for d07, g04 and s18") {
    val picked = Seq("d07", "g04", "s18").map(id =>
      SparkEntry.queries.find(_._1.startsWith(id + "_"))
        .getOrElse(fail(s"no registered query $id")))
    val profiles = BenchProfile.profile(spark, dir, picked, reps = 3,
      isolate = false)
    profiles.foreach { case (name, reps) =>
      assert(reps.size === 3)
      def counts(r: BenchProfile.Rep) = (r.jobs, r.stages, r.tasks)
      assert(counts(reps(1)) === counts(reps(2)), name)
      assert(reps(1).jobs > 0 && reps(1).stages > 0 && reps(1).tasks > 0,
        name)
      assert(reps.forall(r => r.buildSecs >= 0 && r.buildSecs <= r.secs),
        name)
    }
  }

  test("cold first reps keep their audited construction and total job " +
      "counts for d03, d07, d10, g01 and g02") {
    // A job coming back (a second action in a size gate, a re-join, a
    // global aggregate broadcast back) is a fixed per-job cost on every
    // cold invocation. Counted in a fresh session (the Sessions.local
    // config, no runtime conf drift from earlier suites) whose cache
    // starts empty and is cleared after each query.
    // (construction jobs, total jobs) of rep 1:
    //  d03: sig pin fill + band join + pair distinct; no construction
    //  d07: d03's chain under one bounded collect that fills the edge
    //       pin and gates the in-process union-find
    //  d10: d07's construction + the per-source report
    //  g01: the nodes pin's entry pick + reachable's bounded collect
    //  g02: the degrees aggregation over the pinned distinct edges
    val audited = Seq(
      "d03_minhash_lsh" -> ((0L, 5L)),
      "d07_components" -> ((6L, 8L)),
      "d10_dedup_apply" -> ((6L, 9L)),
      "g01_reachability" -> ((7L, 9L)),
      "g02_fanout_fanin" -> ((0L, 7L)))
    val s = spark.newSession()
    s.sharedState.cacheManager.clearCache()
    // the session's table relations resolve once, outside the counts
    // (as in BenchProfile.main)
    Tables.names.foreach(Tables.load(s, dir, _))
    try {
      val got = BenchProfile.profile(s, dir,
        audited.map { case (n, _) => n -> SparkEntry.queries(n) },
        reps = 1, isolate = true)
        .map { case (n, reps) => n -> ((reps.head.buildJobs, reps.head.jobs)) }
      println(s"JOB_AUDIT (build, total): $got")
      assert(got === audited, "a cold rep's job count moved — re-audit " +
        "deliberately or remove the job that came back")
    } finally s.sharedState.cacheManager.clearCache()
  }
}
