package graft

/** The profiling main's counts are repeatable: two steady-state reps
  * of one plan report the same, non-zero jobs, stages and tasks, and
  * each rep's construction time lies within its end-to-end time. */
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
}
