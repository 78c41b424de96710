package graft

import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default 8: round-6 re-sweep of the FULL 96-query suite at sf0.1
    // measured 28.4 s (8 thr) vs 32.1 s (32 thr) — scan-compute queries
    // gain from threads (t07 0.71->0.12 s) but iterative/multi-stage
    // shapes pay the per-job scheduling+AQE floor per round (d07
    // 0.96->1.67 s, e16 0.42->1.42 s), and at MB-scale the floor
    // dominates (COVERAGE.md "Thread-regime sweep"); at 100 TB the
    // knob comes from data volume via this env var
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // ---- suite-level load gate (VERDICT r10 ask #5) ----
    // BENCH_r10 went into the permanent record at loadavg 7 /
    // ref_scale 1.678 / 7 retries: the per-query defenses (min-of-2
    // reps, end-of-suite retries) absorb bursts but not a machine
    // that is busy for the WHOLE suite. Rounds are compared by these
    // committed artifacts, so a contended start is spin-waited out:
    // poll the 1-min loadavg every 15 s until it drops under the
    // threshold (default 4, SPARK_GRAFT_LOAD_GATE) or the wait budget
    // runs out (default 600 s, SPARK_GRAFT_LOAD_GATE_WAIT — refusing
    // outright would zero a driver round, so after the budget the
    // suite runs anyway and the artifact records how long it waited
    // and the load it surrendered at: its own justification).
    val gateBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
    val loadAtLaunch = gateBean.getSystemLoadAverage
    val gateThreshold =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "4.0").toDouble
    val gateBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE_WAIT", "600").toLong
    var gateWaited = 0L
    while (gateBean.getSystemLoadAverage > gateThreshold &&
        gateWaited < gateBudgetSec) {
      System.err.println(s"[bench] load gate: loadavg " +
        f"${gateBean.getSystemLoadAverage}%.2f > $gateThreshold%.1f, " +
        s"waiting (${gateWaited}s/${gateBudgetSec}s)")
      Thread.sleep(15000)
      gateWaited += 15
    }
    // 1-min system load BEFORE any work (post-gate): distinguishes
    // "machine was already busy" from "this suite loaded the machine"
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Untimed warmup: touch every table at the bench SF (parquet
    // footers, file listing, the vectorized reader's first-touch cost).
    // Per-table try: one missing table must not silently skip the rest.
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] warm $n failed: ${e.getMessage}")
      }
    }
    val failed = scala.collection.mutable.ListBuffer[String]()
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
    // per-query 1-min loadavg at measurement start (VERDICT r8 ask
    // #2): a load-inflated entry is attributable from the artifact
    // itself, per query, not just from the suite-level env block
    val qLoads = scala.collection.mutable.Map[String, Double]()
    // Timed value = the MINIMUM of runs 2 and 3 of three back-to-back
    // executions: the untimed first run pays every one-shot cost
    // (Janino codegen, JIT tiering, parquet footers, shuffle/broadcast
    // buffer growth, AQE re-planning) right before its twins are
    // measured, and taking the min of two steady-state reps stops a
    // stray GC pause from billing 1 s to a 0.25 s query (r03 billed
    // 5.6 s of one-shot residue to a 0.4 s query; single timed reps
    // still showed ±4× outliers). Both timed reps are full
    // executions — this is the long-lived-session regime the 100 TB
    // design point operates in.
    // (No System.gc() between runs: a forced full collection before
    // each query measured ~1.5x slower across the board.)
    val results = SparkEntry.queries.map { case (name, fn) =>
      qLoads(name) = osBean.getSystemLoadAverage
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
      val reps = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        // noop sink: computes every output column (count() would let
        // Catalyst prune per-row work), writes nothing
        val ok =
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            true
          } catch { case NonFatal(e) =>
            // a failing query must be VISIBLE, not a silently-fast entry
            if (!failed.contains(name)) {
              failed += name
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            }
            false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      // a fast-failing rep must not report as a steady-state time:
      // min over SUCCESSFUL reps, fail-times only when every rep failed
      val good = reps.filter(_._2)
      name -> (if (good.nonEmpty) good else reps).map(_._1).min
    }
    // times at ms precision — keeps the detail line short enough that
    // the driver's output capture never truncates it mid-JSON.
    // Locale.ROOT: an f-interpolator under a comma-decimal locale
    // would emit invalid JSON.
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // ---- contention self-correction (VERDICT r8 ask #2) ----
    // Min-of-2-reps defends against a stray GC pause, not against a
    // SUSTAINED ambient burst covering both reps (r8's judged artifact
    // billed 79.7 s to a 0.85 s query under load_avg 7.7). So: judge
    // each query against the committed guard reference under this
    // suite's own median environment scale (bench_guard.py's
    // normalization — a uniform machine shift is not contention), and
    // re-run any query >3x its scaled reference at END of suite, when
    // the burst has had the whole suite to pass. Reported value =
    // min(first, rerun); BOTH readings and the loadavg at each are
    // emitted so the artifact carries its own retry evidence. A real
    // regression repeats in the rerun and still shows.
    val refPath = java.nio.file.Paths.get("scripts/bench_reference.json")
    val refs: Map[String, Double] =
      if (sfDir.endsWith("sf0.1") && java.nio.file.Files.exists(refPath))
        try {
          val txt = new String(java.nio.file.Files.readAllBytes(refPath),
            java.nio.charset.StandardCharsets.UTF_8)
          val qblock = txt.substring(txt.indexOf("\"queries\""))
          "\"([A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+)".r
            .findAllMatchIn(qblock)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        } catch { case NonFatal(_) => Map.empty[String, Double] }
      else Map.empty
    val ratios = results.collect {
      case (n, t) if refs.contains(n) => t / refs(n) }.toSeq.sorted
    val refScale =
      if (ratios.isEmpty) 1.0 else math.max(1.0, ratios(ratios.size / 2))
    // first reading, rerun reading, loadavg at rerun start
    val retried =
      scala.collection.mutable.Map[String, (Double, Double, Double)]()
    results.toSeq.sortBy(_._1).foreach { case (name, t) =>
      val isOutlier = refs.get(name).exists(r =>
        t > 3.0 * refScale * r && t > refScale * r + 0.15)
      if (isOutlier && !failed.contains(name)) {
        val loadNow = osBean.getSystemLoadAverage
        val fn = SparkEntry.queries(name)
        val reruns = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val ok =
            try {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              true
            } catch { case NonFatal(_) => false }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        val good = reruns.filter(_._2)
        // both reruns FAILED: keep the first-pass measurement — a
        // failure time is not a measurement, and folding its min in
        // would under-report the query (and, via --update, bake a
        // fake speedup into the guard reference); rerun == first in
        // the artifact marks the retry as inconclusive.
        if (good.nonEmpty) retried(name) = (t, good.map(_._1).min, loadNow)
        else retried(name) = (t, t, loadNow)
      }
    }
    val finalResults: Map[String, Double] = results.map { case (n, t) =>
      n -> retried.get(n).map(r => math.min(t, r._2)).getOrElse(t)
    }.toMap
    val qs = finalResults.map { case (k, v) =>
      Sessions.jsonEscape(k) + ":" + ms(v) }
      .mkString("{", ",", "}")
    val loadsJson = qLoads.toSeq.sortBy(_._1).map { case (k, v) =>
      Sessions.jsonEscape(k) + ":" + ms(v) }
      .mkString("{", ",", "}")
    val retriedJson = retried.toSeq.sortBy(_._1).map { case (k, (f, r, l)) =>
      Sessions.jsonEscape(k) +
        s""":{"first":${ms(f)},"rerun":${ms(r)},"load_at_rerun":${ms(l)}}"""
    }.mkString("{", ",", "}")
    val failedJson = failed.map(Sessions.jsonEscape).mkString("[", ",", "]")
    val total = if (finalResults.nonEmpty) finalResults.values.sum else 0.0
    val sfJson = Sessions.jsonEscape(sfDir)
    // environment block: a load-inflated run (r05's driver artifact
    // read 29.4 s where a clean rep gave 21.3 s) is attributable from
    // the artifact itself instead of needing a full re-run — system
    // load average at start+end of the suite, machine cores vs the
    // requested thread count, and the pin regime the numbers were
    // taken under (always persist; the field keeps the line's shape)
    val loadEnd = osBean.getSystemLoadAverage
    val envJson =
      s"""{"load_avg_start":${ms(loadStart)},"load_avg_end":${ms(loadEnd)},"load_at_launch":${ms(loadAtLaunch)},"load_gate_threshold":${ms(gateThreshold)},"load_gate_waited_sec":$gateWaited,"nproc":${Runtime.getRuntime.availableProcessors},"cpus_env":${Sessions.jsonEscape(cpus)},"default_parallelism":${spark.sparkContext.defaultParallelism},"shuffle_partitions":${Sessions.jsonEscape(spark.conf.get("spark.sql.shuffle.partitions"))},"pin":"persist","ref_scale":${ms(refScale)},"n_retried":${retried.size}}"""
    // compact suite-total line FIRST (always parseable even if the
    // driver's capture clips the long detail line), then the full
    // contract line with per-query times, then the compact line AGAIN
    // (a tail-side capture that scrolls the head off still gets a
    // parseable total); all are one-line JSON
    val compact = s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"sf":$sfJson,"env":$envJson}"""
    val full = s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"queries":$qs,"retried":$retriedJson,"query_loads":$loadsJson,"sf":$sfJson,"env":$envJson}"""
    println(compact)
    println(full)
    println(compact)
    Console.out.flush()
    // ALSO self-report to a file: r04's stdout tail capture clipped 11
    // of 85 per-query times mid-JSON — the file is written whole by
    // this process, so the full detail line survives any stdout
    // truncation. Best-effort: a read-only cwd must not fail the bench.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
      java.nio.file.Files.write(out,
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] wrote ${out.toAbsolutePath}")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] bench_out.json write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
