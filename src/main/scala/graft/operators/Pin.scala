package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.storage.StorageLevel

/** Reuse pin for DataFrames that fan out into several consumers (both
  * sides of a self-join, an edge list every round of a loop reads).
  *
  * A pin is a lazy MEMORY_AND_DISK persist with lineage kept: no eager
  * job barrier (measured: an eager localCheckpoint barrier cost
  * 0.15–0.25 s PER PIN at sf0.1; persist cut d03 0.55→0.30 s, d06
  * 0.47→0.29 s, and won on every pinned query), and on a cluster a
  * lost block recomputes from the parquet scan instead of failing the
  * job. Callers create pins per query invocation without unpersisting;
  * identical plans dedup in the cache manager, so a long-lived session
  * holds one entry per distinct pinned subtree. The engine's own loops
  * truncate their round state with a localCheckpoint instead, through
  * [[round]].
  *
  * The rule: pin a shared relation ONCE, at the relation its readers'
  * warm path scans, and do not pin a builder relation whose only
  * reader is another pin's fill. A pin under a pin caches the same
  * rows twice and costs a fill job of its own, while the outer pin
  * already serves every warm read; inside one fill, a relation read
  * twice shares its exchange instead. The dedup family's gram index
  * (`TextDedup.sizedGids`) and MinHash pair relation
  * (`TextDedup.minhashPairs`) are each one pin over unpinned builders.
  * One exception: d16's tier count pins the pre-cap index
  * (`TextDedup.pinnedGids`), because the df cap drops the docs whose
  * grams are all hubs and the count must include them. A cold d16 then
  * fills the gram index from that cache, but a session that already
  * holds `sizedGids` fills it for the count alone.
  */
object Pin {
  /** Estimated-bytes ceiling above which a [[sized]] pin is
    * SKIPPED (VERDICT r11 ask #5): a corpus-grain pin at the 100 TB
    * design point would persist ~the whole projected corpus to
    * executor storage to save re-scans that a columnar parquet read
    * serves cheaper — above the ceiling each consumer recomputes from
    * the scan instead (predicate pushdown + column pruning intact;
    * the size-gate spec asserts consumers stay at one scan each). The
    * default is a sane single-node storage budget: every pin at the
    * measured SFs (≤ Heaps-1000x) stays far under it, so bench
    * numbers are unaffected, while Catalyst's file-size-derived
    * estimates for 100 TB-shaped scans overshoot it by orders of
    * magnitude and skip. Estimates, not truth — deliberately
    * conservative in the skip direction only for plans whose stats
    * blow up (self-joins), where caching the subtree would be the
    * riskier bet anyway. */
  val MaxEstBytesKey = "spark.graft.pin.maxEstBytes"
  val MaxEstBytesDefault: BigInt = BigInt(64L << 30) // 64 GiB

  def apply(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Size-gated [[apply]] for SCAN-DERIVED pins (projections /
    * narrow derivations of one table scan), whose Catalyst size
    * estimate is file-size-linear and therefore credible. Join- or
    * aggregate-derived pins must keep plain [[apply]]: their
    * estimates compound multiplicatively (a pair self-join at sf0.01
    * estimates 2.3e17 B for a ~5 MB result — measured) and would skip
    * exactly the pins that matter. `tag` names the pin in the skip
    * log so a disengaged pin is attributable from any run's stderr.
    * The estimate covers the relation the query then scans, so a
    * failed estimate is the query's own failure, raised early. */
  def sized(df: DataFrame, tag: String): DataFrame = {
    val max = df.sparkSession.conf.getOption(MaxEstBytesKey)
      .map(BigInt(_)).getOrElse(MaxEstBytesDefault)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est > max) {
      System.err.println(s"[pin] $tag skipped: estimated $est B > " +
        s"$max B ceiling (set $MaxEstBytesKey to adjust)")
      df
    } else apply(df)
  }

  /** Drop a pin's cache entry. */
  def release(df: DataFrame): Unit = df.unpersist(blocking = false)

  /** One round of an iterative driver (connected components, the
    * GraphRunner chunk loop, distributed BFS). A round's state
    * re-references the previous round's tree, so a lazy persist would
    * keep a plan that grows with the round count; `next` gets a LAZY
    * localCheckpoint instead, and counting its `pending` rows — the
    * round's only action, a scan of every partition — is what
    * materializes it. `prev`, the checkpoint the previous round
    * returned, then has no consumer left: its executor blocks are freed
    * now instead of at driver GC. The last round's checkpoint backs
    * the loop's result and stays. Returns (checkpoint, pending rows). */
  private[operators] def round(prev: Option[DataFrame], next: DataFrame,
      pending: Column): (DataFrame, Long) = {
    val cp = next.localCheckpoint(false)
    val n = cp.filter(pending).count()
    prev.foreach(GraftColumnBridge.releaseLocalCheckpoint)
    (cp, n)
  }
}

/** Data-derived shuffle widths (guide §2.2/§2.5; VERDICT r12 brief:
  * "make partitioning scale-adaptive — derive from input size — rather
  * than a constant tuned for either local mode or the cluster").
  *
  * The explicit `repartition(n, keys)` calls in the dedup family serve
  * two roles: gid co-location for exchange-free index joins, and a
  * parallelism floor under the widest (pair-aggregation) stages. Both
  * previously used `defaultParallelism` — a CORE-COUNT constant, which
  * is simultaneously too wide at the bench SFs (a 32-way shuffle +
  * 32-block pin over a sub-MB corpus: every steady-state cache read
  * schedules 32 near-empty tasks) and too narrow at frontier tiers
  * measured on few cores (the Heaps-1000× index is 1.4 GB of parquet
  * but the 8-cpu campaign regime floored it at 8 partitions). Deriving
  * the width from the table's on-disk bytes gives both ends: partition
  * count grows with DATA, with core count only as the upper clamp. */
object Par {
  /** SOURCE-parquet bytes behind one partition of a derived relation
    * (index rows, candidate pairs). The quantum prices the EXPANSION,
    * not the input: a compressed text corpus explodes ~100–1000× into
    * shingle-index and candidate-pair rows (measured at sf0.1: 0.6 MB
    * of documents.parquet is ~1.8 s of single-core pair-aggregation
    * work), so 64 KiB of parquet ≈ tens of MB of in-flight derived
    * rows ≈ a 50–200 ms task — small enough to parallelize real work,
    * large enough that the bench SFs stop paying 32 near-empty tasks
    * per cached read. Conf-tunable, never hard-coded per site. */
  val BytesPerPartKey = "spark.graft.par.bytesPerPartition"
  val BytesPerPartDefault: Long = 64L << 10

  /** clamp(ceil(tableBytes / bytesPerPartition), 1, 4·cores): the
    * lower end follows the data, the upper end bounds task explosion
    * on any one box (4× leaves AQE room to coalesce, never to fan
    * out). Filesystem stat, not a job — ~ms, resolved per invocation
    * so a growing table re-derives its width. It stats the file the
    * query then scans, so a missing table throws here. */
  def forInput(s: org.apache.spark.sql.SparkSession, dir: String,
      table: String): Int = {
    val bpp = s.conf.getOption(BytesPerPartKey).map(_.toLong)
      .getOrElse(BytesPerPartDefault)
    val p = new org.apache.hadoop.fs.Path(dir, s"$table.parquet")
    val bytes = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    val byData = math.max(1L, (bytes + bpp - 1) / bpp)
    val cap = math.max(1, 4 * s.sparkContext.defaultParallelism)
    math.min(byData, cap.toLong).toInt
  }
}
