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

  test("fills counts the cached relations a rep creates, not a loop's " +
      "round checkpoints") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions.col
    // components on the distributed path (no local gate) over a pinned
    // 7-node chain: the rounds are local checkpoints, and the last one
    // backs the result and stays after the rep
    val loop = (s: SparkSession, _: String) =>
      operators.GraphOps.connectedComponents(operators.Pin(s.range(0, 6)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))),
        maxIters = 20, localMax = 0)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try {
      val rep = BenchProfile.profile(spark, dir, Seq("components" -> loop),
        reps = 1, isolate = false).head._2.head
      assert(sc.getPersistentRDDs.values.exists(_.isCheckpointed),
        "no round checkpoint held blocks after the rep")
      assert(rep.fills === 1, "fills counted more than the pinned edges")
    } finally {
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
  }

  /** Rep 1 of each query in a fresh session (the Sessions.local config,
    * no runtime conf drift from earlier suites) whose cache starts
    * empty and is cleared after each query. */
  private def coldReps(names: Seq[String]): Map[String, BenchProfile.Rep] = {
    val s = spark.newSession()
    s.sharedState.cacheManager.clearCache()
    // the session's table relations resolve once, outside the counts
    // (as in BenchProfile.main)
    Tables.names.foreach(Tables.load(s, dir, _))
    try BenchProfile.profile(s, dir,
        names.map(n => n -> SparkEntry.queries(n)), reps = 1,
        isolate = true).toMap.map { case (n, r) => n -> r.head }
    finally s.sharedState.cacheManager.clearCache()
  }

  /** Asserts each audited query's rep-1 (construction jobs, total jobs),
    * plus the listed queries' pin fills. On a cold pin, AQE picks the
    * broadcast side of a self-join over that pin by which of its two
    * cache scans finishes first, so the gram index's pair join
    * (d02, d15) runs one extra broadcast job in about one cold run in
    * 25; a query's counts are therefore those of its fewest-jobs rep
    * over up to three fresh-session runs. */
  private def auditCold(audited: Seq[(String, (Long, Long))],
      fills: Seq[(String, Long)] = Nil): Unit = {
    val names = (audited.map(_._1) ++ fills.map(_._1)).distinct
    def counts(reps: Map[String, BenchProfile.Rep]) = audited.map {
      case (n, _) => n -> ((reps(n).buildJobs, reps(n).jobs)) }
    var reps = coldReps(names)
    var runs = 1
    while (counts(reps) != audited && runs < 3) {
      val again = coldReps(names)
      reps = reps.map { case (n, r) => n -> Seq(r, again(n)).minBy(_.jobs) }
      runs += 1
    }
    val got = counts(reps)
    val gotFills = fills.map { case (n, _) => n -> reps(n).fills }
    println(s"JOB_AUDIT (build, total): $got fills: $gotFills")
    assert(got === audited, "a cold rep's job count moved — re-audit " +
      "deliberately or remove the job that came back")
    assert(gotFills === fills, "a cold rep filled more pins — a " +
      "builder relation was pinned under its reader")
  }

  test("cold first reps keep their audited construction and total job " +
      "counts for d03, d07, d10, g01 and g02") {
    // A job coming back (a second action in a size gate, a re-join, a
    // global aggregate broadcast back) is a fixed per-job cost on every
    // cold invocation.
    // (construction jobs, total jobs) of rep 1:
    //  d03: the one pair-relation pin fill (minhashPairs); no
    //       construction
    //  d07: the pair relation filled by components' bounded collect,
    //       which gates the in-process union-find
    //  d10: d07's construction + the per-source report
    //  g01: the nodes pin's entry pick + reachable's bounded collect
    //  g02: the degrees aggregation over the pinned distinct edges
    auditCold(Seq(
      "d03_minhash_lsh" -> ((0L, 4L)),
      "d07_components" -> ((4L, 6L)),
      "d10_dedup_apply" -> ((4L, 7L)),
      "g01_reachability" -> ((7L, 9L)),
      "g02_fanout_fanin" -> ((0L, 7L))))
  }

  test("cold first reps of the gram-index readers d02, d09, d15, d16 " +
      "and s06 keep their audited job counts, and d02, d03, d07 and d16 " +
      "their audited pin fills") {
    // A pin re-stacked under a pin costs a fill job and a second copy
    // of its rows on every cold invocation; the fills count the cached
    // relations rep 1 created. (construction jobs, total jobs):
    //  d02: the one gram-index pin fill (sizedGids) + the pair join
    //  d09: d02's truth pin + the pair relation + the three counts
    //  d15: d02's gram index + its own pair aggregation
    //  d16: construction runs the tier count (filling the pre-cap
    //       index pin, whose cache the gram-index fill then reads) and
    //       d04's driver-side width count; the run fills the members'
    //       pins and the consensus
    //  s06: the gram index it shares with d02 + the eval⋈train pairs
    // fills: one pin per shared relation — d02 the gram index, d03 and
    // d07 the MinHash pair relation; d16 the pre-cap index (its tier
    // count, Pin's one exception), the gram index, the pair relation,
    // the SimHash signatures and its exact tier's pair scores
    auditCold(Seq(
      "d02_ngram_jaccard" -> ((0L, 9L)),
      "d09_lsh_quality" -> ((0L, 17L)),
      "d15_containment" -> ((0L, 9L)),
      "d16_ensemble_dups" -> ((6L, 21L)),
      "s06_decontamination" -> ((0L, 9L))),
      fills = Seq(
        "d02_ngram_jaccard" -> 1L,
        "d03_minhash_lsh" -> 1L,
        "d07_components" -> 1L,
        "d16_ensemble_dups" -> 5L))
  }
}
