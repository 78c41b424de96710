package graft.operators

import graft.model.Model.EdgeSpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}

/** Vectorized deterministic graph traversal (family E, SURVEY §2.10).
  *
  * The reference executes ONE session at a time through an asyncio
  * loop (`executor.py:286-1300`); the Spark-native re-expression runs
  * N sessions as N rows stepping through the same graph together.
  * The edge set and node outputs are DRIVER-scale (a workflow has
  * tens of edges, never millions), so routing compiles into the plan
  * instead of joining against it: each round is ONE narrow projection
  * over the active sessions — a prioritized `when`-chain per source
  * node picks the highest-priority traversable edge, and node outputs
  * merge as literal maps. No join, no window, ZERO shuffles per
  * round; a million concurrent sessions cost one map pass per step.
  * (The first cut joined an edge DataFrame and ranked candidates with
  * a row_number window — one full session-set shuffle per round; the
  * compiled dispatch removes exactly that, the same driver-scale
  * literal-baking move as v07's centroid codebook.)
  * LLM-driven node behavior stays out (SURVEY §7.4.1): node outputs
  * are provided as a deterministic node → {key: value} map, the same
  * shape the reference's recorded runs produce.
  *
  * Semantics mirrored from the reference:
  *  - outputs merge into memory BEFORE edge evaluation
  *    (`executor.py:860-865`), later writes win (`map_concat` order);
  *  - routing picks the highest-priority traversable edge, ties on
  *    target name (`edge.py:497-500` — [[Routing.firstMatch]]'s rule,
  *    compiled: edges sorted by (priority desc, target asc) into the
  *    when-chain);
  *  - conditions: ALWAYS / ON_SUCCESS / ON_FAILURE / CONDITIONAL
  *    (safe_eval over the memory map via `memory.get(...)`);
  *  - sessions stop at terminal nodes (`executor.py:1064-1067`) or on
  *    no traversable edge (status `stuck`), or at `maxSteps`
  *    (`edge.py:435` default 100 → status `max_steps`).
  *
  * States: (state_id, node, success, memory: Map[String,String]).
  * Returns final states + ordered `path`.
  */
object GraphRunner {

  /** Rounds [[run]] unrolls into one lazy plan before a
    * checkpoint+count probe (see the unroll note in [[run]]); a budget
    * at or under it is one plan with no probe at all. */
  private val UnrollMax = 8

  def run(spark: SparkSession,
      edges: Seq[EdgeSpec],
      terminals: Set[String],
      initialStates: DataFrame,
      nodeOutputs: Map[String, Map[String, String]],
      maxSteps: Int = 100,
      llm: Routing.LlmBoundary = Routing.LlmBoundary.Fallback)
      : DataFrame = {

    // memory is Map[String,String]: safe_eval conditions address it as
    // memory.get('key'). Each CONDITIONAL expr compiles ONCE here; an
    // expression that fails to PARSE or to RESOLVE routes False
    // instead of aborting the run — the reference catches every
    // safe_eval error (syntax errors and unknown names included) and
    // treats the edge as non-traversable (edge.py:199-204); runtime
    // eval failures already have TRY semantics inside
    // SafeEval.condition. Resolution is probed EAGERLY against the
    // memory schema on an empty frame: an unresolved name would
    // otherwise surface as an AnalysisException at the first use and
    // kill all N sessions.
    val memSchema = StructType(Seq(StructField("memory",
      MapType(StringType, StringType))))
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], memSchema)
    def traversable(e: EdgeSpec): Column = e.condition match {
      case "always" => lit(true)
      case "on_success" => col("success")
      case "on_failure" => !col("success")
      case "conditional" => e.conditionExpr.map { ex =>
        try {
          val c = graft.functions.SafeEval.condition(ex, memSchema)
          probe.select(c) // analysis check only; runs no job
          c
        } catch { case _: Exception => lit(false) }
      }.getOrElse(lit(false))
      // llm_decide through the pluggable boundary; the default IS the
      // reference's fallback (edge.py:271-274) — route on success
      case _ => llm.decideEdge(e.source, e.target, col("success"))
    }

    // firstMatch compiled: per source node, edges in (priority desc,
    // target asc) order fold into a when-chain; null = no traversable
    // edge (→ stuck). Evaluates against the POST-MERGE memory because
    // the route projection reads the executed frame below.
    val nullStr = lit(null).cast(StringType)
    val routeCol: Column = edges.groupBy(_.source).toSeq.sortBy(_._1)
      .foldLeft(nullStr) { case (acc, (src, es)) =>
        val chain = es.sortBy(e => (-e.priority, e.target))
          .foldRight(nullStr) { (e, tail) =>
            when(traversable(e), lit(e.target)).otherwise(tail)
          }
        when(col("node") === src, chain).otherwise(acc)
      }

    // node outputs as literal maps, merged into memory when the
    // session sits AT the writing node — later writes win: overwritten
    // keys drop from the old memory BEFORE concatenating (a plain
    // map_concat throws DUPLICATED_MAP_KEY under Spark's default
    // mapKeyDedupPolicy whenever a node rewrites an existing key — the
    // exact case the reference's write-before-edge-eval semantics
    // produce).
    val mergeCol: Column = nodeOutputs.toSeq.sortBy(_._1)
      .foldLeft(col("memory")) { case (acc, (n, kv)) =>
        val keys = kv.keys.toSeq.sorted
        when(col("node") === n,
          map_concat(
            map_filter(col("memory"), (k, _) =>
              keys.map(kk => k =!= lit(kk)).reduce(_ && _)),
            typedlit(kv)))
          .otherwise(acc)
      }

    val isTerminal =
      if (terminals.isEmpty) lit(false)
      else col("node").isin(terminals.toSeq: _*)

    var states = initialStates
      .withColumn("step", lit(0))
      .withColumn("path", array(col("node")))
      .withColumn("status", lit("active"))

    // Rounds UNROLL into one lazy plan (guide §1.2: the r11/r12
    // measurements put ~90 % of g04's steady-state cost in per-round
    // checkpoint+count jobs, not the data path). One conditional
    // projection per round applied to the WHOLE frame — a non-active
    // row keeps every column (guards below), so running rounds past
    // global completion is the identity. No union, no filter pair, no
    // per-round action: plan depth grows one Project layer per round
    // (CollapseProject does not inline non-cheap when-chains, so
    // expressions do not compound), and the caller's single action
    // executes the whole traversal.
    // three select()s per round, not six withColumn()s: every
    // withColumn re-analyzes the whole accumulated plan, and at six
    // per round the unroll's cost moved from jobs to Catalyst
    // (measured build+plan 0.46 s vs 0.07 s exec). The merge must
    // stay a separate projection BEFORE the route (routeCol reads
    // the post-merge memory — the reference's write-before-edge-eval
    // semantics); status/step/path/node fold into one select with
    // the status expression inlined (cheap when-chains over plain
    // column refs).
    def stepAll(st: DataFrame): DataFrame = {
      val act = col("status") === "active"
      val merged = st.select(st.columns.map {
        case "memory" =>
          when(act, mergeCol).otherwise(col("memory")).as("memory")
        case c => col(c)
      }: _*)
      val routed = merged.select(merged.columns.map(col) :+
        when(act && !isTerminal, routeCol).as("tgt"): _*)
      val newStatus = when(!act, col("status"))
        .otherwise(when(isTerminal, "completed")
          .when(col("tgt").isNull, "stuck")
          .otherwise("active"))
      routed.select(st.columns.map {
        case "status" => newStatus.as("status")
        case "step" =>
          when(newStatus === "active", col("step") + 1)
            .otherwise(col("step")).as("step")
        case "path" =>
          when(newStatus === "active",
            concat(col("path"), array(col("tgt"))))
            .otherwise(col("path")).as("path")
        case "node" =>
          when(newStatus === "active", col("tgt"))
            .otherwise(col("node")).as("node")
        case c => col(c)
      }: _*)
    }

    // Larger budgets unroll in chunks of UnrollMax rounds: between
    // chunks, Pin.round truncates the lineage (an unbounded unroll
    // would grow the plan with the budget) and its count of active
    // sessions is the early exit. The last chunk gets no probe — the
    // caller's action materializes it from the prior checkpoint — so a
    // budget ≤ UnrollMax is exactly one lazy plan.
    var prev: Option[DataFrame] = None
    var left = maxSteps
    while (left > 0) {
      val k = math.min(left, UnrollMax)
      (1 to k).foreach(_ => states = stepAll(states))
      left -= k
      if (left > 0) {
        val (cp, active) =
          Pin.round(prev, states, col("status") === "active")
        states = cp; prev = Some(cp)
        if (active == 0L) left = 0
      }
    }
    states.withColumn("status",
      when(col("status") === "active", "max_steps")
        .otherwise(col("status")))
  }
}
