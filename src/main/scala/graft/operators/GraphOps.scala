package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph-shaped query capabilities of the reference's dataflow engine,
  * re-expressed on DataFrames (SURVEY §2.10): reachability
  * (`edge.py:626-660`, `executor.py:259-269`), static fan-out/fan-in
  * detection (`edge.py:506-540`), convergence-node search
  * (`executor.py:1819-1852`) and graph validation (`edge.py:574-698`).
  *
  * Edges are a DataFrame with `src`/`dst` columns; nodes a DataFrame
  * with an `id` column. The two fixpoint drivers ([[reachable]],
  * [[connectedComponents]]) share one size gate: an edge list of at
  * most [[LocalMaxEdges]] rows is collected and solved in-process,
  * zero jobs per round; a larger one runs a driver-side loop of
  * DataFrame joins whose rounds are bounded by graph *diameter*, not
  * size, each round checkpointed and probed by [[Pin.round]] — so the
  * same code runs on a 5-node routing graph or a billion-edge lineage
  * graph (where each round is one distributed hash join).
  */
object GraphOps {

  /** Raw edge rows at or under which [[reachable]] and
    * [[connectedComponents]] run driver-local: 250k rows is tens of MB
    * collected — far inside any driver heap, far outside any per-round
    * job floor. */
  private[graft] val LocalMaxEdges = 250000

  /** Min-depth BFS from `entry` nodes. Returns (node, depth), node as
    * a string whichever path runs. */
  def reachable(edges: DataFrame, entry: Seq[String],
      maxIters: Int = 100): DataFrame =
    reachable(edges, entry, maxIters, LocalMaxEdges)

  /** [[reachable]] with its size gate as a parameter (specs force the
    * distributed loop with 0). ONE action collects at most
    * `localMax + 1` edge rows; if they all fit, the BFS runs on the
    * collected list in-process — e.g. the aggregated transition graph
    * of an event stream: heavy distributed groupBy first, then an
    * O(nodes) algorithm on the result. Otherwise each round is one
    * frontier join + anti-join against the visited set. */
  private[graft] def reachable(edges: DataFrame, entry: Seq[String],
      maxIters: Int, localMax: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"))
    val head = e.limit(localMax + 1).as[(String, String)].collect()
    if (head.length <= localMax) {
      val adj = head.groupBy(_._1).map { case (s, a) => s -> a.map(_._2) }
      val depth = scala.collection.mutable.Map[String, Int]()
      entry.foreach(n => depth(n) = 0)
      var frontier = entry.toSet
      var d = 0
      while (frontier.nonEmpty && d < maxIters) {
        d += 1
        frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[String]))
          .filterNot(depth.contains)
        frontier.foreach(n => depth(n) = d)
      }
      return depth.toSeq.toDF("node", "depth")
    }
    var visited = entry.distinct.toDF("node").withColumn("depth", lit(0))
    var prev: Option[DataFrame] = None
    var pending = 1L
    var d = 0
    while (pending > 0 && d < maxIters) {
      d += 1
      val next = visited.filter(col("depth") === d - 1)
        .join(e, col("node") === col("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("depth", lit(d))
      val (cp, n) = Pin.round(prev, visited.union(next),
        col("depth") === d)
      visited = cp; prev = Some(cp); pending = n
    }
    visited
  }

  // flood rounds before pointer jumping activates (see loop note)
  private val JumpAfter = 3

  /** Spark's min() over StringType orders by unsigned UTF-8 bytes
    * (UTF8String.compareTo), which differs from java.lang.String's
    * UTF-16 ordering for supplementary characters — the local path
    * must elect the identical canonical id. */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Union-find over the COLLECTED `rows` of an edge list `sym` (raw
    * or symmetrized — union(a, b) is direction-blind and both
    * endpoints are indexed as nodes): the same min-label fixpoint as
    * the distributed loop, computed in-process. None when the id
    * type's driver ordering is not provably Spark's min() ordering, or
    * any endpoint is null (the loop's null semantics — nulls never
    * join — are not worth replicating here); the caller then falls
    * through to the distributed loop. */
  private def localComponents(sym: DataFrame,
      rows: Array[org.apache.spark.sql.Row]): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    val spark = sym.sparkSession
    val dt = sym.schema.head.dataType
    val cmp: (Any, Any) => Int = dt match {
      case LongType | IntegerType | ShortType | ByteType =>
        (a, b) => java.lang.Long.compare(
          a.asInstanceOf[Number].longValue(),
          b.asInstanceOf[Number].longValue())
      case StringType =>
        (a, b) => utf8Cmp(a.asInstanceOf[String], b.asInstanceOf[String])
      case _ => return None
    }
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    // index nodes, union by size, then min per root via cmp
    val idx = new java.util.HashMap[Any, Integer]()
    val vals = scala.collection.mutable.ArrayBuffer[Any]()
    val parent = scala.collection.mutable.ArrayBuffer[Int]()
    val size = scala.collection.mutable.ArrayBuffer[Int]()
    def nodeId(v: Any): Int = {
      val got = idx.get(v)
      if (got != null) got.intValue()
      else {
        val i = vals.length
        idx.put(v, Integer.valueOf(i))
        vals += v; parent += i; size += 1
        i
      }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    rows.foreach { r =>
      val a = find(nodeId(r.get(0)))
      val b = find(nodeId(r.get(1)))
      if (a != b) {
        if (size(a) >= size(b)) { parent(b) = a; size(a) += size(b) }
        else { parent(a) = b; size(b) += size(a) }
      }
    }
    val n = vals.length
    val minOfRoot = new Array[Any](n)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (minOfRoot(r) == null || cmp(vals(i), minOfRoot(r)) < 0)
        minOfRoot(r) = vals(i)
      i += 1
    }
    val out = new java.util.ArrayList[Row](n)
    i = 0
    while (i < n) {
      out.add(Row(vals(i), minOfRoot(find(i))))
      i += 1
    }
    val schema = StructType(Seq(
      StructField("id", dt, nullable = true),
      StructField("component", dt, nullable = true)))
    // LocalRelation under ~100k rows (known size → downstream joins
    // can broadcast it at plan time); RDD-backed above (a multi-MB
    // literal plan costs more than it saves)
    if (n <= 100000) Some(spark.createDataFrame(out, schema))
    else Some(spark.createDataFrame(
      spark.sparkContext.parallelize(
        out.toArray(new Array[Row](0)).toSeq,
        math.max(1, n / 65536)), schema))
  }

  /** Connected components of an undirected graph by min-label
    * propagation: every node's label converges to the smallest node id
    * in its component. Each round is ONE distributed join + aggregation
    * on the symmetrized edge relation, and the round count is bounded
    * by component diameter (the min label floods one hop per round) —
    * the scale path for dedup-cluster assignment (canonical-document
    * election over an LSH candidate graph), where components are
    * near-dup clusters: small and shallow by construction — but each
    * round also POINTER-JUMPS (label ← label of its label, the path
    * halving of Shiloach–Vishkin / hash-to-min), so label chains halve
    * per round and a diameter-d component converges in O(log d) rounds
    * instead of d. A 10⁶-long chain — where plain flooding would need
    * 10⁶ rounds — finishes in ~20. The jump is one extra join on the
    * LABELS frame (node-grain, small next to the edge join), a cost
    * shallow graphs barely notice.
    *
    * `edges` needs `src`/`dst` columns of one orderable type. It is
    * read by the size gate and, above the gate, by both halves of the
    * symmetrized loop relation, so pin an expensive edge plan before
    * passing it (d07/d10's is a filter over a pinned relation). Returns
    * `(id, component)` for every node incident to at least one edge,
    * `component` = min id in the node's component. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponents(edges, maxIters, LocalMaxEdges)

  /** [[connectedComponents]] with its size gate as a parameter (specs
    * force the distributed loop with 0). */
  private[graft] def connectedComponents(edges: DataFrame, maxIters: Int,
      localMax: Int): DataFrame = {
    // The raw edge list is not pinned here: in every registered
    // consumer (d07, d10) it is a filter over the caller's pinned
    // candidate relation (TextDedup.minhashPairs), which already serves
    // the bounded collect below and, in a long-lived session, every
    // later invocation. A second pin would hold a copy of the same
    // rows. The loop's symmetrized relation is pinned (read every
    // round).
    val e = edges.select(col("src"), col("dst"))
    // Driver-local fast path (guide §1.2 "fewer passes" / §5 "the
    // driver should do almost no data work" — EXCEPT when the data is
    // provably driver-scale): near-dup candidate graphs are tiny
    // relative to the corpus (they are the duplicates being hunted),
    // yet the distributed loop pays 2+ rounds × (join + agg +
    // checkpoint + count) of pure job-scheduling floor per call — the
    // r11 verdict's dominant cost on d07/d10/s11/s16. ONE bounded
    // collect of at most `localMax + 1` rows gates the path, the same
    // gate [[reachable]] uses (it doubles as the caller's pin fill, a
    // job round 1 would have paid anyway); when the rows all fit, a
    // union-find labels them in-process — the same min-id fixpoint,
    // zero per-round jobs (union-find is direction-blind, so the raw
    // list needs no symmetrize). Above the threshold (or for edge
    // types whose driver ordering we cannot prove equal to Spark's
    // min()) the distributed loop below runs unchanged — that is the
    // 100 TB path.
    val head = e.limit(localMax + 1).collect()
    val localResult: Option[DataFrame] =
      if (head.length <= localMax) localComponents(e, head) else None
    if (localResult.isDefined) return localResult.get
    // symmetrize once: propagation must run both directions. Pinned
    // for the loop (read every round); fills off the caller's cache.
    val sym = Pin(e.union(e.select(col("dst"), col("src"))))
    // labels chain on THEMSELVES each round (labels ⋈ f(labels)), so
    // the logical plan doubles per round — lazy persist keeps lineage
    // and the planner's tree goes exponential (measured: a diameter-11
    // path OOMs plan stringification alone). [[Pin.round]] truncates
    // it per round. The initial labels checkpoint is lazy too: round
    // 1's count computes it (both round-1 consumers read through the
    // checkpoint RDD's cache layer), so the init pays no job of its own
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(false)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      it += 1
      // smallest label visible from each node's neighborhood this round
      val nbrMin = sym.join(labels, sym("src") === labels("id"))
        .groupBy(col("dst").as("id"))
        .agg(min("component").as("nbr"))
      val hopped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("component").as("old"),
          least(col("component"), coalesce(col("nbr"), col("component")))
            .as("component"))
      // pointer jump: a label is always some node in the same
      // component (invariant: it only ever copies another node's
      // label, monotonically decreasing), so following component →
      // label(component) stays inside the component while halving
      // label-chain length. Fixpoint unchanged: no neighbor OR parent
      // improvement ⇔ labels constant across every edge ⇔ min-label
      // assignment. ADAPTIVE: the jump join only switches on once the
      // graph has proven deep (still unconverged after `JumpAfter`
      // flood rounds) — near-dup clusters converge before it ever
      // activates and pay nothing, while a chain of any depth still
      // finishes in O(log d) rounds after the switch.
      val jumped =
        if (it <= JumpAfter) hopped
        else {
          val parent = labels
            .select(col("id").as("p_id"), col("component").as("p_comp"))
          hopped.join(parent, hopped("component") === col("p_id"), "left")
            .select(col("id"),
              least(col("component"),
                coalesce(col("p_comp"), col("component")))
                .as("component"),
              col("old"))
        }
      // the convergence count is the round's only action (Pin.round)
      val (next, improved) = Pin.round(Some(labels), jumped
        .withColumn("improved", col("component") < col("old"))
        .drop("old"), col("improved"))
      converged = improved == 0L
      labels = next.drop("improved")
    }
    Pin.release(sym)
    // an unconverged result is WRONG (one component reported as many,
    // several is_canonical rows per true cluster) — refuse it loudly
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIters rounds " +
        s"(reachable diameter ≈ $JumpAfter flood rounds then doubling " +
        s"per jump round — ~2^(maxIters-$JumpAfter) past the flood " +
        "prefix); raise maxIters, or check the input for label-type " +
        "mismatches")
    labels
  }

  /** Out/in degree per node over distinct edges; fan-out = >1 distinct
    * successor (reference counts ON_SUCCESS edges, `edge.py:506-523`).
    * Nodes absent from `nodes` are dropped; nodes without edges get 0. */
  def degrees(nodes: DataFrame, edges: DataFrame): DataFrame = {
    // ONE aggregation: each distinct edge explodes to its two endpoint
    // rows — (src, out 1, in 0) and (dst, out 0, in 1) — so both
    // degrees come out of one groupBy, joined to the nodes once. The
    // distinct edge relation stays pinned: a long-lived session reads
    // the (possibly expensive) edges subtree from cache (g02's events
    // window + lag edge build)
    val e = Pin(edges.select("src", "dst").distinct())
    def end(id: String, out: Long) =
      struct(col(id).as("id"), lit(out).as("o"), lit(1L - out).as("i"))
    val deg = e.select(explode(array(end("src", 1L), end("dst", 0L)))
        .as("x"))
      .groupBy(col("x.id").as("id"))
      .agg(sum("x.o").as("out_degree"), sum("x.i").as("in_degree"))
    nodes.select(col("id"))
      .join(deg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("out_degree"), lit(0L)).as("out_degree"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .withColumn("is_fanout", col("out_degree") > 1)
      .withColumn("is_fanin", col("in_degree") > 1)
  }

  /** First common node reachable from every branch head — the
    * convergence node of a parallel fan-out (`executor.py:1819-1852`):
    * intersection of the branches' reachable sets, closest by summed
    * depth, name as tie-break. */
  def convergence(edges: DataFrame, branches: Seq[String]): DataFrame = {
    require(branches.nonEmpty)
    branches.map(b => reachable(edges, Seq(b)))
      .reduce((a, b) => a.join(b, Seq("node"))
        .select(col("node"), (a("depth") + b("depth")).as("depth")))
      .filter(!col("node").isin(branches: _*)) // heads are not successors
      .orderBy(col("depth"), col("node"))
      .limit(1)
  }

  /** Structural validation as an errors dataset (`edge.py:574-698`):
    * dangling edge endpoints, duplicate node ids, unreachable nodes.
    * Each rule is an anti-join/aggregation; the union is the report. */
  def validate(nodes: DataFrame, edges: DataFrame,
      entry: Seq[String]): DataFrame = {
    val ids = nodes.select(col("id"))
    val srcMissing = edges.join(ids, edges("src") === ids("id"), "left_anti")
      .select(lit("edge_source_missing").as("error"), col("src").as("node"))
      .distinct()
    val dstMissing = edges.join(ids, edges("dst") === ids("id"), "left_anti")
      .select(lit("edge_target_missing").as("error"), col("dst").as("node"))
      .distinct()
    val dup = nodes.groupBy("id").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select(lit("duplicate_node_id").as("error"), col("id").as("node"))
    val unreachable = ids
      .join(reachable(edges, entry).select("node"),
        ids("id") === col("node"), "left_anti")
      .select(lit("unreachable_node").as("error"), col("id").as("node"))
    srcMissing.union(dstMissing).union(dup).union(unreachable)
  }
}
