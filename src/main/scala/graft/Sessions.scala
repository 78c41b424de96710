package graft

import org.apache.spark.sql.SparkSession

/** ONE local-session builder + JSON escaper for the driver mains.
  *
  * The bench/verify config parity (UTC timezone, shuffle partitions,
  * size-first AQE coalescing) is load-bearing for the oracle compare —
  * it lived as three hand-synced copies across Bench/Verify/
  * BenchProfile, where adding a config to one main silently benches a
  * different engine than the one verified. Every entry point (the
  * mains `Bench`, `Verify`, `BenchProfile` and `PlanAudit`, `Cli`, the
  * specs' `SparkTestBase`, enginebench) builds its session here.
  *
  * That is also what makes the codegen cache size hold. The size is a
  * static conf, read once per JVM, when Spark's code generator is first
  * used, from the session active at that moment; a JVM whose first
  * session was built elsewhere keeps the 100-entry default for its
  * whole life, whatever later sessions set.
  */
object Sessions {

  def local(cpus: String,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // size-first AQE coalescing (the production-recommended setting):
      // post-shuffle partitions merge to the advisory size instead of
      // fanning out to maximum parallelism — at 100 TB it is exactly
      // the config you'd run with (parallelism comes from data volume)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // GC-pause tolerance: at the Heaps-1000x tier (275M tokens in
      // one 64g local JVM) a pin-fill full-GC pause can exceed the
      // 10s default heartbeat, and in local mode a missed heartbeat
      // tears down the scheduler endpoint and kills the app
      // (observed: RpcTimeoutException -> RpcEndpointNotFoundException
      // during d02's first rep at 100x/1000x on a slow round-10 VM).
      // A real cluster runs with exactly these knobs raised; the
      // network timeout must stay > the heartbeat interval.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      // Scan-parallelism floor (VERDICT r10 ask #2): a few-large-files
      // layout is a real production ingest shape, and under the 128m
      // default a single-file corpus scan gets ONE task regardless of
      // cores (the round-10 campaign's d02 tokenize read 207 s at
      // 100x because the whole 82 MB documents.parquet landed in one
      // split). 16m keeps such layouts parallel at every tier the
      // engine is measured at (82 MB -> 6 splits, 863 MB -> ~54)
      // while staying production-sane at 100 TB (tasks are packed by
      // openCostInBytes; tokenize-grade scans are CPU-bound per byte,
      // so smaller splits trade a little scheduling overhead for
      // cluster-wide parallelism). Split use still requires row
      // groups smaller than the file — gen_scale.py/gen_sf1.py cap
      // row_group_size so fixtures are splittable end to end.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      // Let AQE coalesce CACHED plan output (r12): pinned relations
      // are materialized through the cache manager, and with the
      // default (false) every pin keeps its pre-AQE partition count —
      // at the bench SFs that is |cores| near-empty blocks, so every
      // downstream cache read schedules |cores| tasks to move KBs
      // (measured: the steady-state reps of the pin-heavy queries
      // were walls of 33-task jobs reading 32-partition caches).
      // With true, a pinned aggregate/join coalesces to the advisory
      // size — blocks sized by DATA volume, not by core count, which
      // is the same §2.2 sizing rule the shuffle partitions follow,
      // at any scale. Explicitly repartition(n, key)-ed pins
      // (sizedGids's gid co-location) keep their
      // partitioning: AQE never coalesces a user-specified
      // repartition-by-num, so the exchange-free join design is
      // unaffected.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Compile each generated class once per JVM. Spark keeps compiled
      // whole-stage and expression classes in an LRU cache of
      // `spark.sql.codegen.cache.maxEntries` entries, 100 by default;
      // the registry's plans produce far more distinct classes than
      // that, so every steady pass evicted and recompiled them (and the
      // JIT then recompiled the new classes). Without the stage id in
      // the class name, the same pipeline at another codegen stage id
      // is the same source and hits the cache. Sized from a measured
      // pass: the full 134-query registry at sf0.1 fills 1,560 entries
      // and grows metaspace by 68 MB; 4000 leaves 2.5x headroom and
      // bounds the cache's metaspace near 175 MB.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.codegen.useIdInClassName", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL (or a quoted path
    * in an env var) would otherwise make the driver's json.load fail
    * and silently zero the round. */
  def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
