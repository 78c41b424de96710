package enginebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics

import graft.{Q, Sessions, Tables}
import graft.queries._

/** Closed-loop engine benchmark: one client runs the registered queries
  * of a workload, pass after pass, in one long-lived session. An
  * invocation is `Q.run` plus a noop-style sink that also fingerprints
  * the output; every fingerprint is checked against a stored reference.
  *
  * {{{
  * EngineBench --workload analytics|pipeline-warm|pipeline-cold
  *   --data <dir> --reference <file> --seed <n> --passes <n>
  *   --warmup <passes> --threads <n> [--trace <file>] [--record 1]
  * }}}
  * Prints one `{"info": ...}` line and then the result line, both JSON.
  * `--trace` turns on the per-layer observers and writes the span tree
  * to the file; `--record 1` merges the observed fingerprints into the
  * reference instead of checking against it. */
object EngineBench {

  /** The queries of `families` whose names start with one of `ids`,
    * in registry order; fails if an id matches nothing. */
  private def pick(families: Seq[Q], ids: String*): Seq[Q] = {
    val picked = ids.map(id => id -> families.filter(_.name.startsWith(id + "_")))
    picked.collect { case (id, Seq()) => id }.foreach(id =>
      sys.error(s"no registered query $id"))
    families.filter(q => picked.exists(_._2.contains(q)))
  }

  // Each workload is a fixed sample of its families, sized so that one
  // run (set-up, warm-up, at least two timed passes) stays near 35-40 s at
  // the committed scale; README.md explains the choice per query.
  val analytics: Seq[Q] = pick(
    Relational.all ++ EventAnalytics.all ++ RunAnalytics.all,
    "q01", "q03", "q07", "q09", "q15", "q21", "q28", "e05", "e10", "e16",
    "b01", "b06")
  val pipeline: Seq[Q] = pick(
    TextDedup.all ++ TextAnalysis.all ++ VectorSearch.all ++
      GraphQueries.all ++ SourceQueries.all,
    "d02", "d07", "t01", "t08", "v01", "v09", "g02")

  /** Workload name -> (queries, clear the cache before each invocation). */
  val workloads: Map[String, (Seq[Q], Boolean)] = Map(
    "analytics" -> (analytics, false),
    "pipeline-warm" -> (pipeline, false),
    "pipeline-cold" -> (pipeline, true))

  final case class Opts(workload: String, data: String, reference: String,
      seed: Long, passes: Int, warmup: Int, threads: Int,
      trace: Option[String], record: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = get("--workload")
    require(workloads.contains(w), s"unknown workload $w")
    Opts(w, get("--data"), get("--reference"), get("--seed").toLong,
      get("--passes").toInt, get("--warmup").toInt,
      get("--threads").toInt, m.get("--trace"),
      m.get("--record").contains("1"))
  }

  /** One invocation's observations; the per-layer ones (GC, JIT,
    * compile time, pin fills) only in traced passes. */
  final class Inv(val q: Q, val pass: Int, val timed: Boolean,
      val traced: Boolean) {
    var ok = false
    var error = ""
    var buildS, execS, cpuS, clearS = 0.0
    var startMs, midMs, endMs = 0L
    var cachedMb = 0.0
    var gcMs, jitMs, compiles = 0L
    var compileS = 0.0
    var fills = 0
    var rows = -1L
    var schema = ""
    var fp = ""
    def latencyS: Double = buildS + execS
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs(): Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val (queries, cold) = workloads(o.workload)
    val work = Paths.get(sys.props.getOrElse("java.io.tmpdir", "."))
    val spark = Sessions.local(o.threads.toString, Map(
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
      "spark.driver.host" -> "127.0.0.1",
      "spark.driver.bindAddress" -> "127.0.0.1"))
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val reference = Reference.load(o.reference)
    val tracer = o.trace.map(_ => new Tracer(spark))

    def cachedRdds(): Seq[org.apache.spark.storage.RDDInfo] =
      sc.getRDDStorageInfo.toSeq
    def cachedMb(): Double =
      cachedRdds().map(r => r.memSize + r.diskSize).sum / 1048576.0

    /** Drops every cached relation, as a new caller would find the
      * session: the CacheManager entries, then any persistent RDD left,
      * then waits until the block manager reports nothing cached. */
    val afterClearMb = mutable.ArrayBuffer[Double]()
    def clearCache(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (cachedRdds().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(5)
      afterClearMb += cachedMb()
    }

    def invoke(inv: Inv): Unit = {
      if (cold) {
        val c0 = System.nanoTime()
        clearCache()
        inv.clearS = (System.nanoTime() - c0) / 1e9
      }
      val token = s"${inv.pass}:${inv.q.name}"
      val cpu0 = os.getProcessCpuTime
      val (gc0, jit0) = if (inv.traced) (gcMs(), jitMs()) else (0L, 0L)
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ids0 =
        if (inv.traced) cachedRdds().map(_.id).toSet else Set.empty[Int]
      def span(part: String): Unit =
        if (inv.traced) sc.setLocalProperty(Tracer.SpanKey, s"$token/$part")
      inv.startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var stage = "build"
      try {
        span("build")
        val df = inv.q.run(spark, o.data)
        val t1 = System.nanoTime()
        inv.midMs = System.currentTimeMillis()
        inv.buildS = (t1 - t0) / 1e9
        stage = "execute"
        span("execute")
        df.write.format(FingerprintSink.Format).option("token", token)
          .mode("overwrite").save()
        inv.execS = (System.nanoTime() - t1) / 1e9
        inv.endMs = System.currentTimeMillis()
        sc.setLocalProperty(Tracer.SpanKey, null)
        inv.cpuS = (os.getProcessCpuTime - cpu0) / 1e9
        stage = "check"
        val fp = FingerprintSink.take(token).getOrElse(
          throw new IllegalStateException("the sink committed no fingerprint"))
        inv.rows = fp.rows
        inv.schema = df.schema.catalogString
        inv.fp = fp.hex
        if (!o.record) reference.check(inv.q.name, inv.rows, inv.schema, inv.fp)
        inv.ok = true
      } catch {
        case NonFatal(e) =>
          inv.error = s"$stage: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString
          System.err.println(s"[enginebench] ${inv.q.name} pass ${inv.pass} " +
            s"FAILED in ${inv.error}")
      } finally sc.setLocalProperty(Tracer.SpanKey, null)
      val cg1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      inv.compiles = cg1 - cg0
      if (inv.traced) {
        inv.gcMs = gcMs() - gc0
        inv.jitMs = jitMs() - jit0
        inv.compileS = inv.compiles *
          CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1000.0
        inv.fills = (cachedRdds().map(_.id).toSet -- ids0).size
      }
      inv.cachedMb = cachedMb()
    }

    val all = mutable.ArrayBuffer[Inv]()
    var passNo = 0
    def runPass(timed: Boolean, traced: Boolean): Seq[Inv] = {
      val order = new scala.util.Random(o.seed * 1000003L + passNo)
        .shuffle(queries)
      val invs = order.map(q => new Inv(q, passNo, timed, traced))
      tracer.foreach(_.enabled = traced)
      invs.foreach(invoke)
      // the bus delivers events after they are posted: let the pass's
      // last job, task and query events arrive before recording stops
      tracer.foreach { t => if (traced) t.drain(); t.enabled = false }
      passNo += 1
      all ++= invs
      invs
    }

    // ---- set-up: tables, then warm-up passes (untimed) ----
    Tables.names.foreach(n => Tables.load(spark, o.data, n))
    val warmup = (1 to o.warmup).map { _ =>
      val jit0 = jitMs(); val gc0 = gcMs()
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      runPass(timed = false, traced = false)
      Map("wall_s" -> (System.nanoTime() - t0) / 1e9,
        "jit_s" -> (jitMs() - jit0) / 1000.0, "gc_s" -> (gcMs() - gc0) / 1000.0,
        "compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)
          .toDouble)
    }

    // ---- timed window: a fixed number of whole passes ----
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val w0 = System.nanoTime()
    // a traced run needs at least four passes (see below)
    val timedPasses = if (o.trace.isDefined) math.max(4, o.passes) else o.passes
    (0 until timedPasses).foreach { i =>
      // traced runs order their passes untraced, traced, traced,
      // untraced (ABBA), so JIT drift cancels out of the overhead
      runPass(timed = true, traced = o.trace.isDefined && Set(1, 2).contains(i % 4))
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val timed = all.filter(_.timed).toSeq

    val failures = all.filterNot(_.ok)
    val errorRate = failures.size.toDouble / all.size
    val lat = timed.map(_.latencyS).sorted
    val p90 = Quantile.harrellDavis(lat, 0.9)
    val untracedTimed = timed.filterNot(_.traced)

    var tracedPasses = Seq.empty[String]
    val metrics: Seq[(String, Double, String)] = o.trace match {
      case None =>
        // the cold workload's cache clearing is not part of the window
        val busyS = windowS - timed.map(_.clearS).sum
        Seq(("setup_s", setupS, "s"),
          ("throughput_qps", timed.count(_.ok) / busyS, "1/s"),
          ("latency_p50_s", Quantile.harrellDavis(lat, 0.5), "s"),
          ("latency_p90_s", p90, "s"),
          ("cpu_s_per_query", timed.map(_.cpuS).sum / timed.size, "s"),
          ("session_cache_mb", timed.map(_.cachedMb).max, "MB"))
      case Some(path) =>
        val traced = timed.filter(_.traced)
        val (roots, layer, passes) = Layers.build(traced, tracer.get.take())
        tracedPasses = passes
        val overhead = traced.map(_.latencyS).sum /
          untracedTimed.map(_.latencyS).sum * (untracedTimed.size.toDouble / traced.size) - 1.0
        Files.write(Paths.get(path), (s"""{"workload":${Json.str(o.workload)},""" +
          s""""seed":${o.seed},"invocations":[""" +
          roots.map(Span.toJson).mkString(",\n") + "]}\n").getBytes(UTF_8))
        layer :+ (("trace.overhead_pct", overhead * 100, "%"))
    }

    if (o.record) Reference.merge(o.reference, all.filter(_.ok).toSeq)

    // deterministic per-pass counts, for the repeatability checks
    val perPass = all.groupBy(_.pass).toSeq.sortBy(_._1).map { case (p, invs) =>
      s"""{"pass":$p,"timed":${invs.head.timed},"traced":${invs.head.traced},""" +
        s""""compiles":${invs.map(_.compiles).sum},""" +
        s""""wall_s":${Json.num(invs.map(_.latencyS).sum)}}"""
    }
    val info = Seq(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "threads" -> o.threads.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "queries" -> queries.size.toString,
      "warmup_passes" -> warmup.map(m => m.map { case (k, v) =>
        s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")).mkString("[", ",", "]"),
      "timed_passes" -> timedPasses.toString,
      "window_s" -> Json.num(windowS),
      "samples" -> lat.size.toString,
      "samples_above_p90" -> lat.count(_ > p90).toString,
      "error_rate" -> Json.num(errorRate),
      "failures" -> failures.map(i => Json.str(s"${i.q.name}: ${i.error}"))
        .mkString("[", ",", "]"),
      "check_shape_only" -> queries.map(_.name).filter(reference.shapeOnly)
        .map(Json.str).mkString("[", ",", "]"),
      "cache_after_clear_mb" -> afterClearMb.distinct.sorted.map(Json.num)
        .mkString("[", ",", "]"),
      "passes" -> perPass.mkString("[", ",", "]"),
      "traced_passes" -> tracedPasses.mkString("[", ",", "]"),
      "query_p50_s" -> timed.groupBy(_.q.name).toSeq.sortBy(_._1).map {
        case (n, is) =>
          val l = is.map(_.latencyS).sorted
          s"${Json.str(n)}:${Json.num(l((l.size - 1) / 2))}"
      }.mkString("{", ",", "}"))
    println(info.map { case (k, v) => s""""$k":$v""" }.mkString("""{"info":{""", ",", "}}"))
    val metricJson = metrics.map { case (k, v, u) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    println(s"""{"correct":${failures.isEmpty},"attempted":${all.size},""" +
      s""""failed":${failures.size},"metrics":${metricJson.mkString("{", ",", "}")}}""")
    Console.out.flush()
    spark.stop()
  }
}

/** Per-layer metrics of the traced invocations (means per invocation)
  * and the span tree they are computed from. */
object Layers {
  def build(traced: Seq[EngineBench.Inv], events: Seq[Ev])
      : (Seq[Span], Seq[(String, Double, String)], Seq[String]) = {
    val byId = mutable.Map[String, Span]()
    val roots = traced.map { inv =>
      val token = s"${inv.pass}:${inv.q.name}"
      val root = new Span(token, inv.startMs, math.max(inv.endMs, inv.midMs),
        inv.latencyS)
      val build = new Span("build", inv.startMs, inv.midMs, inv.buildS)
      val exec = new Span("execute", inv.midMs, inv.endMs, inv.execS)
      root.children ++= Seq(build, exec)
      byId(s"$token/build") = build
      byId(s"$token/execute") = exec
      root.attrs ++= Seq("cpu_s" -> inv.cpuS, "gc_s" -> inv.gcMs / 1000.0,
        "jit_s" -> inv.jitMs / 1000.0, "compiles" -> inv.compiles.toDouble,
        "compile_s" -> inv.compileS, "pin_fills" -> inv.fills.toDouble,
        "cached_mb" -> inv.cachedMb)
      if (!inv.ok) root.attrs += ("failed" -> 1.0)
      root
    }
    Span.attach(events, byId.toMap)
    val n = math.max(1, traced.size).toDouble
    val total = new Counters
    val buildC = new Counters
    roots.foreach { r =>
      r.children.foreach(c => total += c.counters)
      buildC += r.children.head.counters
    }
    val execS = roots.map(r => Span.covered(r.children.flatMap(_.children).toSeq)).sum
    val fills = traced.map(_.fills).sum.toDouble
    val hits = math.max(0.0, total.cachedScans - fills)
    val mb = 1048576.0
    // deterministic counts per traced pass, for the repeatability checks
    val perPass = traced.zip(roots).groupBy(_._1.pass).toSeq.sortBy(_._1).map {
      case (p, rs) =>
        val c = new Counters
        rs.foreach(_._2.children.foreach(ch => c += ch.counters))
        val buildJobs = rs.map(_._2.children.head.counters.jobs).sum
        s"""{"pass":$p,"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
          s""""build_jobs":$buildJobs,"compiles":${rs.map(_._1.compiles).sum},""" +
          s""""fills":${rs.map(_._1.fills).sum}}"""
    }
    (roots, Seq(
      ("queries.build_s", traced.map(_.buildS).sum / n, "s"),
      ("queries.build_jobs", buildC.jobs / n, "count"),
      ("catalyst.analysis_s", roots.map(_.children.last.counters.analysisMs).sum / 1000.0 / n, "s"),
      ("catalyst.optimization_s", roots.map(_.children.last.counters.optimizationMs).sum / 1000.0 / n, "s"),
      ("catalyst.planning_s", roots.map(_.children.last.counters.planningMs).sum / 1000.0 / n, "s"),
      ("codegen.compiles", traced.map(_.compiles).sum / n, "count"),
      ("codegen.compile_s", traced.map(_.compileS).sum / n, "s"),
      ("exec.s", execS / n, "s"),
      ("exec.jobs", total.jobs / n, "count"),
      ("exec.stages", total.stages / n, "count"),
      ("exec.tasks", total.tasks / n, "count"),
      ("exec.task_run_s", total.taskRunMs / 1000.0 / n, "s"),
      ("exec.task_cpu_s", total.taskCpuNs / 1e9 / n, "s"),
      ("exec.shuffle_read_mb", total.shuffleRead / mb / n, "MB"),
      ("exec.shuffle_write_mb", total.shuffleWrite / mb / n, "MB"),
      ("exec.spill_mb", total.spill / mb / n, "MB"),
      ("exec.failed_tasks", total.failedTasks / n, "count"),
      ("sources.scan_mb", total.inBytes / mb / n, "MB"),
      ("sources.scan_rows", total.inRecords / n, "count"),
      ("pin.fills", fills / n, "count"),
      ("pin.hits", hits / n, "count"),
      ("pin.hit_ratio", if (hits + fills > 0) hits / (hits + fills) else 0.0, "ratio"),
      ("pin.cached_mb", traced.map(_.cachedMb).sum / n, "MB"),
      ("jvm.gc_s", traced.map(_.gcMs).sum / 1000.0 / n, "s"),
      ("jvm.jit_s", traced.map(_.jitMs).sum / 1000.0 / n, "s"),
      ("span.invocation_self_s", roots.map(_.selfS).sum / n, "s"),
      ("span.build_self_s", roots.map(_.children.head.selfS).sum / n, "s"),
      ("span.execute_self_s", roots.map(_.children.last.selfS).sum / n, "s")),
      perPass)
  }
}

/** The stored reference: per query, the row count, the schema and the
  * output fingerprint. Queries whose fingerprint differed between
  * recorded sessions are `shape` entries, checked on rows and schema
  * only. One tab-separated line per query. */
final class Reference(val entries: Map[String, Array[String]]) {
  def shapeOnly(name: String): Boolean =
    entries.get(name).exists(_(1) == "shape")

  def check(name: String, rows: Long, schema: String, fp: String): Unit = {
    val e = entries.getOrElse(name,
      throw new IllegalStateException(s"no reference for $name"))
    if (e(2).toLong != rows)
      throw new IllegalStateException(s"rows $rows != reference ${e(2)}")
    if (e(3) != schema)
      throw new IllegalStateException(s"schema $schema != reference ${e(3)}")
    if (e(1) == "full" && e(4) != fp)
      throw new IllegalStateException(s"fingerprint $fp != reference ${e(4)}")
  }
}

object Reference {
  def load(path: String): Reference = {
    val p = Paths.get(path)
    new Reference(if (!Files.exists(p)) Map.empty else
      Files.readAllLines(p, UTF_8).asScala.filterNot(_.startsWith("#"))
        .map(_.split("\t", -1)).map(a => a(0) -> a).toMap)
  }

  /** Folds this session's observations into the reference file: a
    * query keeps `full` while every observation agrees, drops to
    * `shape` when only the fingerprint differs, and fails the record
    * when its row count or schema differs. */
  def merge(path: String, invs: Seq[EngineBench.Inv]): Unit = {
    val old = load(path).entries
    val merged = mutable.TreeMap[String, Array[String]]()
    invs.groupBy(_.q.name).foreach { case (name, obs) =>
      val seen = obs.map(i => (i.rows.toString, i.schema, i.fp)) ++
        old.get(name).map(a => (a(2), a(3), a(4)))
      val shapes = seen.map(s => (s._1, s._2)).distinct
      require(shapes.size == 1, s"$name: row count or schema not reproducible: $shapes")
      val mode = if (seen.map(_._3).distinct.size == 1 &&
        old.get(name).forall(_(1) == "full")) "full" else "shape"
      merged(name) = Array(name, mode, shapes.head._1, shapes.head._2, seen.head._3)
    }
    old.foreach { case (k, v) => if (!merged.contains(k)) merged(k) = v }
    val header = "# query\tcheck\trows\tschema\tfingerprint"
    Files.write(Paths.get(path), (header +: merged.values.map(_.mkString("\t")).toSeq)
      .mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
