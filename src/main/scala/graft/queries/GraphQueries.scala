package graft.queries

import graft.{Q, Tables}
import graft.operators.{GraphOps, Pin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics derived from the event stream — the reference's
  * reachability / fan-out / validation operators (SURVEY §2.10) applied
  * to the behavioral transition graph of `events`.
  *
  * The graph is built distributed (one window + one groupBy over the
  * full stream); the BFS then runs on the aggregated, tiny node set —
  * at 100 TB the transition aggregation is the heavy stage and the
  * graph algorithms stay O(nodes), which is the right split.
  */
object GraphQueries {

  /** Transition edges with above-average frequency: (src, dst). */
  private def edges(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val tr = Tables.load(s, dir, "events")
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("c"))
    // the average over the aggregated transitions (≤ |event types|²
    // rows) as an unbounded window on them: one single-partition
    // stage, no global aggregate broadcast back
    val all = Window.partitionBy()
    tr.withColumn("avg", sum("c").over(all) / count(lit(1)).over(all))
      .filter(col("c") > col("avg")).select("src", "dst")
  }

  private val edgesCte =
    """WITH RECURSIVE s AS (
      |  SELECT user_id, event_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt
      |  FROM events),
      |tr AS (SELECT event_type AS src, nxt AS dst, COUNT(*) AS c
      |       FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |e AS (SELECT src, dst FROM tr
      |      WHERE c > (SELECT SUM(c) / COUNT(*) FROM tr)),
      |nodes AS (SELECT DISTINCT event_type AS id FROM events)""".stripMargin

  // ---------------------------------------------------------------
  // g01 reachability — BFS min-depth from the first node over the
  // above-average transition graph (reachability semi-join,
  // edge.py:626-660; unreachable detection, executor.py:259-269).
  // Spark side: GraphOps.reachable; oracle: recursive CTE.
  val g01 = Q(
    "g01_reachability",
    s"""$edgesCte,
      |entry AS (SELECT MIN(id) AS n FROM nodes),
      |r AS (SELECT n AS node, 0 AS depth FROM entry
      |      UNION ALL
      |      SELECT e.dst, r.depth + 1 FROM r JOIN e ON e.src = r.node
      |      WHERE r.depth < 6),
      |m AS (SELECT node, MIN(depth) AS depth FROM r GROUP BY node)
      |SELECT nodes.id AS node, m.depth IS NOT NULL AS reachable, m.depth
      |FROM nodes LEFT JOIN m ON nodes.id = m.node""".stripMargin) {
    (s, dir) =>
      val e = edges(s, dir)
      val nodes = Pin(Tables.load(s, dir, "events") // entry pick + final left join reuse
        .select(col("event_type").as("id")).distinct())
      val entry = nodes.agg(min("id")).head().getString(0)
      // the transition graph is post-aggregation (≤ |event types|²
      // edges), so reachable's size gate runs the BFS on the collected
      // edge list, not per-depth joins. maxIters = 6 matches the
      // oracle's recursion cap (depth < 6 → max emitted depth 6) so
      // both sides bound identically on any graph shape.
      val r = GraphOps.reachable(e, Seq(entry), maxIters = 6)
      nodes.join(r, nodes("id") === r("node"), "left")
        .select(col("id").as("node"),
          col("depth").isNotNull.as("reachable"), col("depth"))
  }

  // ---------------------------------------------------------------
  // g02 fan-out / fan-in — static branch detection on the transition
  // graph (edge.py:506-540): distinct-successor/predecessor degrees.
  val g02 = Q(
    "g02_fanout_fanin",
    s"""$edgesCte,
      |o AS (SELECT src AS id, COUNT(*) AS out_degree
      |      FROM (SELECT DISTINCT src, dst FROM e) GROUP BY src),
      |i AS (SELECT dst AS id, COUNT(*) AS in_degree
      |      FROM (SELECT DISTINCT src, dst FROM e) GROUP BY dst)
      |SELECT nodes.id, COALESCE(o.out_degree, 0) AS out_degree,
      |  COALESCE(i.in_degree, 0) AS in_degree,
      |  COALESCE(o.out_degree, 0) > 1 AS is_fanout,
      |  COALESCE(i.in_degree, 0) > 1 AS is_fanin
      |FROM nodes LEFT JOIN o ON nodes.id = o.id
      |           LEFT JOIN i ON nodes.id = i.id""".stripMargin) {
    (s, dir) =>
      val nodes = Tables.load(s, dir, "events")
        .select(col("event_type").as("id")).distinct()
      GraphOps.degrees(nodes, edges(s, dir))
  }

  // ---------------------------------------------------------------
  // g03 PageRank over the transition graph (Brin/Page 1998) — the
  // node-importance ranking on the behavioral graph the g-family
  // analyzes: which event types are the "hubs" user flows concentrate
  // into. 5 damped iterations (d = 0.85) in EXACT INTEGER arithmetic
  // on 1e12-scaled ranks — every step is floor division on
  // non-negative BIGINTs, identical in both engines (no float
  // summation order, no convergence-epsilon ambiguity):
  //   r₀(v)    = S // N                       (S = 1e12)
  //   rᵢ(v)    = (0.15·S) // N + Σ_u ((rᵢ₋₁(u)·17) // 20 · c(u,v)) // out(u)
  // Dangling nodes leak their mass (the simplified variant; the
  // oracle and the engine leak identically). Contributions sum as
  // integers — order-independent. The per-edge term evaluates in the
  // overflow-free split form (exact identity, since c ≤ out):
  //   floor(r17·c/out) = (r17 // out)·c + floor((r17 % out)·c / out)
  // where only the remainder product can exceed 64 bits — it runs in
  // HUGEINT (oracle) / BigInt (driver), bounded by out² < 2^126, so
  // a hot edge with billions of transitions neither wraps silently
  // here nor aborts the oracle (the e18 overflow lesson).
  //
  // Scale shape: the corpus-cardinality work is the transition
  // collapse (one window + one map-side-combinable groupBy — e18's
  // grain, shared semantics). The transition matrix is |types|²
  // rows — bounded, closed-set driver state exactly like the k-means
  // codebook (v07's sync point) — so the 5 iterations run as driver
  // integer arithmetic instead of 10+ scheduled no-op shuffles over a
  // 64-row relation; the oracle unrolls the same five steps as CTEs.
  private val PrS = 1000000000000L
  private val PrBase = 150000000000L // 0.15 · S, exact
  private val PrIters = 5
  // Hard ceiling on the event-type codebook the driver-side fold
  // accepts: 4096² edge rows ≈ 16.7 M worst case — comfortably
  // driver-sized; anything larger fails fast (advisor finding r6).
  private val MaxPrTypes = 4096
  val g03 = Q(
    "g03_pagerank",
    s"""WITH t AS (SELECT user_id, event_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY event_id) AS prev
      |  FROM events),
      |tr AS (SELECT prev AS src, event_type AS dst,
      |         CAST(COUNT(*) AS BIGINT) AS c
      |       FROM t WHERE prev IS NOT NULL GROUP BY 1, 2),
      |o AS (SELECT src AS v, CAST(SUM(c) AS BIGINT) AS cnt
      |      FROM tr GROUP BY src),
      |nd AS (SELECT DISTINCT event_type AS v FROM events),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nd),
      |p0 AS (SELECT v, $PrS // nn.n AS r FROM nd CROSS JOIN nn),
      |${(1 to PrIters).map(i =>
        s"""p$i AS (SELECT nd.v, ($PrBase // nn.n)
          |    + COALESCE(s$i.cb, 0) AS r
          |  FROM nd CROSS JOIN nn LEFT JOIN
          |    (SELECT tr.dst AS v,
          |       CAST(SUM(
          |         ((((p${i - 1}.r * 17) // 20) // o.cnt) * tr.c)
          |         + CAST((CAST(((p${i - 1}.r * 17) // 20) % o.cnt
          |             AS HUGEINT) * tr.c) // o.cnt AS BIGINT))
          |         AS BIGINT) AS cb
          |     FROM p${i - 1} JOIN tr ON p${i - 1}.v = tr.src
          |       JOIN o ON o.v = tr.src
          |     GROUP BY tr.dst) s$i ON s$i.v = nd.v)""".stripMargin)
        .mkString(",\n")}
      |SELECT v AS event_type, r AS rank_scaled,
      |  r::DOUBLE / 1e12 AS pagerank
      |FROM p$PrIters""".stripMargin) { (s, dir) =>
    val byUser = Window.partitionBy("user_id").orderBy("event_id")
    val ev = Tables.load(s, dir, "events")
    val tr = ev
      .select(col("event_type").as("dst"),
        lag("event_type", 1).over(byUser).as("src"))
      .filter(col("src").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("c"))
    // |types|²-bounded driver state (closed event-type set — the
    // codebook justification); the corpus-scale window+collapse above
    // ran distributed. The closed-set assumption is ENFORCED, not
    // assumed: collect LIMIT MaxPrTypes+1 and fail fast with a clear
    // error if the type column turns out to be open-cardinality —
    // a guard, not a driver OOM.
    val rawNodes = ev.select(col("event_type")).distinct()
      .limit(MaxPrTypes + 1).collect()
    if (rawNodes.length > MaxPrTypes)
      throw new IllegalStateException(
        s"g03_pagerank: event_type cardinality exceeds $MaxPrTypes — " +
          "the driver-side |types|^2 transition fold assumes a closed " +
          "event-type codebook; run the distributed variant instead")
    val nodes = rawNodes.map(_.getString(0)).sorted
    if (nodes.isEmpty) {
      ev.select(col("event_type"), lit(0L).as("rank_scaled"),
        lit(0.0).as("pagerank")).limit(0)
    } else {
      val edgeRows = tr.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val out = edgeRows.groupBy(_._1).map { case (u, es) =>
        u -> es.map(_._3).sum
      }
      val n = nodes.length.toLong
      var rank: Map[String, Long] = nodes.map(_ -> PrS / n).toMap
      (1 to PrIters).foreach { _ =>
        val contrib = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        edgeRows.foreach { case (u, v, c) =>
          val r17 = (rank(u) * 17) / 20
          val ou = out(u)
          // overflow-free split (scaladoc identity); the remainder
          // product runs in BigInt exactly as the oracle's HUGEINT
          contrib(v) += (r17 / ou) * c + ((BigInt(r17 % ou) * c) / ou).toLong
        }
        rank = nodes.map(v => v -> (PrBase / n + contrib(v))).toMap
      }
      import s.implicits._
      nodes.toSeq.map(v => (v, rank(v), rank(v).toDouble / 1e12))
        .toDF("event_type", "rank_scaled", "pagerank")
    }
  }

  // ---------------------------------------------------------------
  // g04 multi-session graph traversal — the ONE §2.10 capability that
  // was spec-only (VERDICT r7 ask #4): [[graft.operators.GraphRunner]]
  // steps every user session as a ROW through a conditional-edge
  // workflow graph (executor.py:286-1300 vectorized — one compiled
  // when-chain projection per step for ALL sessions), here
  // oracle-verified end to end. The fixture graph exercises every
  // routing primitive at once:
  //  - on_failure vs always at different priorities (signup: failed
  //    sessions have BOTH traversable; priority 2 wins → error);
  //  - CONDITIONAL safe_eval over seeded memory
  //    (int(memory.get('n','0')) >= 8) and over a NODE-WRITTEN key
  //    (memory.get('seen') == '1' — view's output merges into memory
  //    BEFORE edge eval, executor.py:860-865);
  //  - equal-priority tie → target-name order (view at n<8: error vs
  //    signup both always/p1 → 'error' alphabetically);
  //  - terminal stop (purchase), stuck (error with odd n), and the
  //    maxSteps=6 visit cap (even n<8 cycles view↔error until capped).
  // Sessions are data-derived so every status materializes at sf0.01+:
  // n = the user's click count, success = purchases > errors.
  //
  // Oracle: recursive CTE over the same edge VALUES relation; the
  // best edge per (session, step) is LEFT JOIN LATERAL ... ORDER BY
  // priority DESC, target LIMIT 1 — the firstMatch rule verbatim —
  // and safe_eval conditions hand-translate to SQL predicates over
  // the carried (n, success, seen) state, exactly the memory the
  // Spark side consults.
  //
  // Scale shape: the 6 steps unroll into one lazy plan of narrow
  // projections — zero shuffles per step, the session groupBy the
  // plan's only exchange — so a million concurrent sessions run the
  // same plan; there is no per-session anything in the driver.
  private val G04MaxSteps = 6
  val g04 = Q(
    "g04_graph_traversal",
    s"""WITH RECURSIVE u AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >
      |      SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS success
      |  FROM events GROUP BY user_id),
      |ed AS (SELECT * FROM (VALUES
      |    ('signup', 'view', 'always', 1),
      |    ('signup', 'error', 'on_failure', 2),
      |    ('view', 'click', 'cond_n_ge_8', 2),
      |    ('view', 'error', 'always', 1),
      |    ('view', 'signup', 'always', 1),
      |    ('click', 'purchase', 'cond_seen', 1),
      |    ('error', 'view', 'cond_n_even', 1))
      |  AS t(source, target, condition, priority)),
      |walk(user_id, node, step, path, status, n, success, seen) AS (
      |  SELECT user_id, 'signup', 0, 'signup', 'active', n, success,
      |    false
      |  FROM u
      |  UNION ALL
      |  SELECT w.user_id,
      |    CASE WHEN w.node = 'purchase' OR e.target IS NULL THEN w.node
      |         ELSE e.target END,
      |    CASE WHEN w.node = 'purchase' OR e.target IS NULL THEN w.step
      |         ELSE w.step + 1 END,
      |    CASE WHEN w.node = 'purchase' OR e.target IS NULL THEN w.path
      |         ELSE w.path || '->' || e.target END,
      |    CASE WHEN w.node = 'purchase' THEN 'completed'
      |         WHEN e.target IS NULL THEN 'stuck'
      |         ELSE 'active' END,
      |    w.n, w.success, (w.seen OR w.node = 'view')
      |  FROM walk w LEFT JOIN LATERAL (
      |    SELECT e.target FROM ed e
      |    WHERE w.node <> 'purchase' AND e.source = w.node
      |    AND ((e.condition = 'always')
      |      OR (e.condition = 'on_failure' AND NOT w.success)
      |      OR (e.condition = 'cond_n_ge_8' AND w.n >= 8)
      |      OR (e.condition = 'cond_seen' AND (w.seen OR w.node = 'view'))
      |      OR (e.condition = 'cond_n_even' AND w.n % 2 = 0))
      |    ORDER BY e.priority DESC, e.target LIMIT 1) e ON true
      |  WHERE w.status = 'active' AND w.step < $G04MaxSteps)
      |SELECT user_id, node, status, CAST(step AS BIGINT) AS n_steps, path
      |FROM walk WHERE status IN ('completed', 'stuck')
      |UNION ALL
      |SELECT user_id, node, 'max_steps', CAST(step AS BIGINT), path
      |FROM walk WHERE status = 'active' AND step = $G04MaxSteps""".stripMargin) {
    (s, dir) =>
      import graft.model.Model.EdgeSpec
      val ev = Tables.load(s, dir, "events")
      val sess = ev.groupBy("user_id").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n"),
        (sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) >
          sum(when(col("event_type") === "error", 1L).otherwise(0L)))
          .as("success"))
      val initial = sess.select(col("user_id").as("state_id"),
        lit("signup").as("node"), col("success"),
        map(lit("n"), col("n").cast("string")).as("memory"))
      val edges = Seq(
        EdgeSpec("signup", "view", condition = "always", priority = 1),
        EdgeSpec("signup", "error", condition = "on_failure", priority = 2),
        EdgeSpec("view", "click", condition = "conditional",
          conditionExpr = Some("int(memory.get('n', '0')) >= 8"),
          priority = 2),
        EdgeSpec("view", "error", condition = "always", priority = 1),
        EdgeSpec("view", "signup", condition = "always", priority = 1),
        EdgeSpec("click", "purchase", condition = "conditional",
          conditionExpr = Some("memory.get('seen') == '1'"), priority = 1),
        EdgeSpec("error", "view", condition = "conditional",
          conditionExpr = Some("int(memory.get('n', '0')) % 2 == 0"),
          priority = 1))
      graft.operators.GraphRunner.run(s, edges, Set("purchase"), initial,
        nodeOutputs = Map("view" -> Map("seen" -> "1"),
          "click" -> Map("clicked" -> "1")),
        maxSteps = G04MaxSteps)
        .select(col("state_id").as("user_id"), col("node"), col("status"),
          col("step").cast("bigint").as("n_steps"),
          array_join(col("path"), "->").as("path"))
  }

  val all: Seq[Q] = Seq(g01, g02, g03, g04)
}
