package graft

import graft.operators._
import graft.plans.SqlGate
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkTestBase {
  import spark.implicits._

  //   a -> b -> c -> d,  b -> d,  e isolated, cycle d -> b
  private lazy val edges = Seq(
    ("a", "b"), ("b", "c"), ("c", "d"), ("b", "d"), ("d", "b"))
    .toDF("src", "dst")
  private lazy val nodes = Seq("a", "b", "c", "d", "e").toDF("id")

  test("reachable: min BFS depth, cycles terminate") {
    val r = GraphOps.reachable(edges, Seq("a"))
      .collect().map(x => x.getString(0) -> x.getInt(1)).toMap
    assert(r === Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 2))
  }

  test("degrees: fan-out/fan-in flags (edge.py:506-540)") {
    val d = GraphOps.degrees(nodes, edges).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2),
        x.getBoolean(3), x.getBoolean(4)))).toMap
    assert(d("b") === ((2L, 2L, true, true)))
    assert(d("e") === ((0L, 0L, false, false)))
  }

  test("degrees: self-loop, duplicate edges, an edgeless node and an " +
      "endpoint missing from the nodes match the two-aggregate formula") {
    val n = Seq("a", "b", "c", "iso").toDF("id")
    // a self-loop on a, a duplicated a -> b, b -> c, and two edges to
    // and from x, which is not a node
    val e = Seq(("a", "a"), ("a", "b"), ("a", "b"), ("b", "c"),
      ("x", "a"), ("c", "x")).toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))).toMap
    // out- and in-degree as two aggregations joined to the nodes twice
    val d = e.distinct()
    val out = d.groupBy(col("src").as("id")).agg(count(lit(1)).as("o"))
    val in = d.groupBy(col("dst").as("id")).agg(count(lit(1)).as("i"))
    val twoAgg = n.join(out, Seq("id"), "left").join(in, Seq("id"), "left")
      .select(col("id"), coalesce(col("o"), lit(0L)),
        coalesce(col("i"), lit(0L)),
        coalesce(col("o"), lit(0L)) > 1, coalesce(col("i"), lit(0L)) > 1)
    val got = rows(GraphOps.degrees(n, e))
    assert(got === rows(twoAgg))
    assert(got === Map("a" -> ((2L, 2L, true, true)),
      "b" -> ((1L, 1L, false, false)), "c" -> ((1L, 1L, false, false)),
      "iso" -> ((0L, 0L, false, false))))
  }

  test("convergence of parallel branches (executor.py:1819-1852)") {
    val c = GraphOps.convergence(edges, Seq("b", "c")).collect()
    assert(c.head.getString(0) === "d") // d reachable from both, closest
  }

  test("connectedComponents: min-label, chains/cycles/multi-component") {
    // component {1,2,3,4} as a 3-hop chain + a cycle back edge,
    // component {10,11}, and 20-21-22 where only 20-21 and 21-22
    // connect (transitivity must merge them); node 30 has no edge
    // and must not appear
    val e = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 2L),
      (11L, 10L), (20L, 21L), (22L, 21L))
      .toDF("src", "dst")
    val got = GraphOps.connectedComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  /** The distributed label-propagation loop (the 100 TB path): a
    * size gate of 0 edges, since small test graphs would otherwise take
    * the driver-local union-find fast path and leave the loop untested. */
  private def distributedCC(e: org.apache.spark.sql.DataFrame,
      maxIters: Int = 50) = GraphOps.connectedComponents(e, maxIters, 0)

  test("connectedComponents: the size gate's boundary — localMax edges " +
      "solve in-process in ONE action, localMax + 1 run the loop, with " +
      "identical labels") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val localMax = 5
    // two components over six edges; the first five leave 6 alone
    val all = Seq((1L, 2L), (2L, 3L), (4L, 3L), (7L, 8L), (8L, 9L),
      (6L, 7L))
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    def labels(edges: Seq[(Long, Long)], gate: Int) = {
      val df = edges.toDF("src", "dst")
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(sc)
      execs.set(0)
      sc.addSparkListener(listener)
      val cc = try {
        val r = GraphOps.connectedComponents(df, 50, gate)
        org.apache.spark.sql.GraftColumnBridge.drainListenerBus(sc)
        r
      } finally sc.removeSparkListener(listener)
      val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (got, execs.get, cc.queryExecution.analyzed.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    }
    val (atGate, atExecs, atLocal) = labels(all.take(localMax), localMax)
    assert(atLocal, "localMax edges did not take the in-process path")
    assert(atExecs === 1, s"the local path ran $atExecs actions")
    assert(atGate === labels(all.take(localMax), 0)._1)
    assert(atGate === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
    val (over, overExecs, overLocal) = labels(all, localMax)
    assert(!overLocal && overExecs > 1,
      "localMax + 1 edges did not run the distributed loop")
    assert(over === labels(all, GraphOps.LocalMaxEdges)._1)
    assert(over === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 6L))
  }

  test("connectedComponents: long path needs diameter rounds, converges") {
    // a 12-node path labelled in REVERSE so the min (1) sits at one
    // end and must flood 11 hops — exercises the iteration ledger
    val e = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = distributedCC(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 12L).map(_ -> 1L).toMap)
  }

  test("connectedComponents: refuses to return unconverged labels") {
    // diameter 199 >> 2^3: even with pointer jumping, 3 rounds cannot
    // finish — silent partial labels would report one chain as many
    // components, so it must throw instead
    val e = (1L to 199L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException](distributedCC(e, maxIters = 3))
  }

  test("connectedComponents: pointer jumping converges a 300-node " +
      "path in far fewer rounds than its diameter") {
    // plain flooding needs 299 rounds (> default maxIters 50); path
    // halving needs ~O(log d) — the default budget must suffice
    val e = (1L to 299L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = distributedCC(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 300L).map(_ -> 1L).toMap)
  }

  test("connectedComponents: driver-local fast path matches the " +
      "distributed loop on seeded random graphs (long AND string ids)") {
    val rnd = new scala.util.Random(29)
    (1 to 3).foreach { trial =>
      val n = 80
      val edges = (1 to 90).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val longDf = edges.toDF("src", "dst")
      val local = GraphOps.connectedComponents(longDf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = distributedCC(longDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local === dist, s"trial $trial (long ids)")
      // reachable's in-process BFS vs its distributed loop (gate 0),
      // under a depth cap and run to the fixpoint
      def reachAgrees(df: org.apache.spark.sql.DataFrame, entry: String,
          ids: String): Unit = Seq(2, 100).foreach { it =>
        def reach(localMax: Int) = GraphOps
          .reachable(df, Seq(entry), it, localMax).collect()
          .map(r => r.getString(0) -> r.getInt(1)).toMap
        val inProc = reach(GraphOps.LocalMaxEdges)
        assert(inProc.size > 1, s"trial $trial: BFS found no successors")
        assert(inProc === reach(0),
          s"trial $trial (reachable, $ids ids, maxIters $it)")
      }
      reachAgrees(longDf, edges.head._1.toString, "long")
      // string ids: the local comparator must elect Spark min()'s
      // canonical id (unsigned UTF-8 ordering)
      val strDf = edges.map { case (a, b) => (s"n$a", s"n$b") }
        .toDF("src", "dst")
      val localS = GraphOps.connectedComponents(strDf).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val distS = distributedCC(strDf)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(localS === distS, s"trial $trial (string ids)")
      reachAgrees(strDf, s"n${edges.head._1}", "string")
    }
  }

  test("connectedComponents: seeded random graphs match a union-find " +
      "reference") {
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val n = 60
      val edges = (1 to 70).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // expected component = min node id in each union-find class,
      // restricted to nodes that touch an edge (the operator contract)
      val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = touched.map { v =>
        val root = find(v.toInt)
        val minId = touched.filter(u => find(u.toInt) == root).min
        v -> minId
      }.toMap
      val got = GraphOps
        .connectedComponents(edges.toDF("src", "dst")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expect, s"trial $trial")
    }
  }

  test("validate: dangling endpoints + unreachable nodes") {
    val badEdges = edges.union(Seq(("a", "zz")).toDF("src", "dst"))
    val errs = GraphOps.validate(nodes, badEdges, Seq("a"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(errs.contains(("edge_target_missing", "zz")))
    assert(errs.contains(("unreachable_node", "e")))
    assert(!errs.exists(_._2 == "b"))
  }
}

class LogRollupsSpec extends SparkTestBase {
  import spark.implicits._

  // run r1: node n1 clean; node n2 trips retry + token thresholds
  private lazy val steps = (
    (1 to 3).map(i => ("r1", "n1", i, "accept", 100L, 10L, 10L, "ok")) ++
    (1 to 25).map(i => ("r1", "n2", i,
      if (i % 2 == 0) "retry" else "continue", 1000L, 3000L, 3000L, "ok")))
    .toDF("run_id", "node_id", "step", "verdict", "latency_ms",
      "tokens_in", "tokens_out", "exit_status")

  test("L3→L2: attention thresholds (RUNTIME_LOGGING.md:97-106)") {
    val l2 = LogRollups.l3ToL2(steps)
    val n2 = l2.filter($"node_id" === "n2").head()
    assert(n2.getAs[Boolean]("needs_attention"))
    val reasons = n2.getSeq[String](n2.fieldIndex("attention_reasons"))
    assert(reasons.contains("retries")) // 12 > 3
    assert(reasons.contains("tokens")) // 150k > 100k
    assert(reasons.contains("steps")) // 25 > 20
    assert(!l2.filter($"node_id" === "n1").head()
      .getAs[Boolean]("needs_attention"))
  }

  test("L2→L1: quality degraded on retries, attention propagates") {
    val l1 = LogRollups.l2ToL1(LogRollups.l3ToL2(steps)).head()
    assert(l1.getAs[Boolean]("needs_attention"))
    assert(l1.getAs[String]("execution_quality") === "degraded")
    assert(l1.getAs[Long]("total_steps") === 28L)
  }

  test("L3→L2→L1 plan: exactly two exchanges (the BASELINE.md " +
      "single-pass rollup contract)") {
    // (run, node) agg then (run) agg — each is one shuffle; anything
    // more means the rollup re-reads or re-shuffles the step log
    val plan = LogRollups.l2ToL1(LogRollups.l3ToL2(steps))
      .queryExecution.executedPlan.toString
    // \bExchange: matches the shuffle operator wherever it sits in the
    // tree (incl. ':-' branch rails a line-prefix check misses) but
    // not BroadcastExchange/ReusedExchange (no word boundary there)
    val exchanges = raw"\bExchange".r.findAllIn(plan).size
    assert(exchanges === 2, s"expected 2 exchanges, got $exchanges:\n$plan")
  }

  test("steps since last accept (worker_monitoring_tools.py:158-163)") {
    val d = LogRollups.stepsSinceLastAccept(
      Seq(("r", "n", 1, "accept"), ("r", "n", 2, "continue"),
        ("r", "n", 3, "retry"))
        .toDF("run_id", "node_id", "step", "verdict"))
      .orderBy("step").collect().map(_.getAs[Int]("steps_since_accept"))
    assert(d === Array(0, 1, 2))
  }
}

class BuilderQueriesSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val runs = Seq(
    ("r1", "g1", "completed", null, "2026-01-01T00:00:00"),
    ("r2", "g1", "failed", "boom", "2026-01-02T00:00:00"),
    ("r3", "g1", "failed", "boom", "2026-01-03T00:00:00"),
    ("r4", "g2", "completed", null, "2026-01-04T00:00:00"))
    .toDF("run_id", "goal_id", "status", "error", "started_at")

  private lazy val decisions = Seq(
    ("r1", "g1", 0, "plan", "tool", "choose tool for search", "optA", true, 10L, 100L),
    ("r1", "g1", 1, "exec", "route", "route result onward", "optB", true, 10L, 100L),
    ("r2", "g1", 0, "plan", "tool", "choose tool for search", "optA", true, 10L, 100L),
    ("r2", "g1", 1, "exec", "route", "route result onward", "optC", false, 10L, 100L),
    ("r3", "g1", 0, "plan", "tool", "choose tool for search", "optB", false, 10L, 100L))
    .toDF("run_id", "goal_id", "idx", "node_id", "decision_type",
      "intent", "chosen_option_id", "success", "latency_ms", "tokens")

  test("goal success rate + top failures (query.py:222-253)") {
    val sr = BuilderQueries.goalSuccessRate(runs)
      .filter($"goal_id" === "g1").head()
    assert(sr.getAs[Long]("total_runs") === 3L)
    assert(math.abs(sr.getAs[Double]("success_rate") - 1.0 / 3) < 1e-12)
    val tf = BuilderQueries.topFailures(runs).head()
    assert(tf.getString(0) === "boom" && tf.getLong(1) === 2L)
  }

  test("problematic nodes: rate > 0.10 sorted desc (query.py:255-270)") {
    val pn = BuilderQueries.problematicNodes(decisions).collect()
    assert(pn.map(_.getString(0)).toSeq === Seq("exec", "plan"))
    assert(pn.head.getAs[Double]("failure_rate") === 0.5)
  }

  test("modal choice per intent prefix (query.py:439-467)") {
    val m = BuilderQueries.decisionPatterns(decisions)
      .filter($"intent_prefix" === "choose tool for search").head()
    assert(m.getAs[String]("modal_choice") === "optA") // 2 vs 1
  }

  test("compareRuns: first divergence + node-set diff (query.py:469-501)") {
    val c = BuilderQueries.compareRuns(decisions, "r1", "r3").head()
    assert(c.getAs[Int]("first_divergence_idx") === 0) // optA vs optB
    assert(c.getAs[Seq[String]]("nodes_only_in_a") === Seq("exec"))
  }

  test("failureChain truncates at first failure (query.py:181-196)") {
    val chain = BuilderQueries.failureChain(decisions, "r2")
    assert(chain.count() === 2) // idx 0 ok + idx 1 first failure
    assert(BuilderQueries.failureChain(decisions, "r1").count() === 2)
  }
}

class GoalProgressSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val criteria = Seq(
    ("g1", "c1", "search the web quickly", 0.6),
    ("g1", "c2", "summarize findings clearly", 0.4))
    .toDF("goal_id", "criterion_id", "description", "weight")

  private lazy val decisions = Seq(
    ("g1", "search the web for items", true),
    ("g1", "search the web again", false),
    ("g1", "summarize the findings now", true))
    .toDF("goal_id", "intent", "success")

  test("criterion relatedness = ≥2 keyword overlap; weighted overall") {
    val g = GoalProgress.goalProgress(criteria, decisions).head()
    // c1 related: 2 decisions (1 success) -> 0.5; c2: 1/1 -> 1.0
    // overall = (0.6*0.5 + 0.4*1.0) / 1.0 = 0.7
    assert(math.abs(g.getAs[Double]("overall_progress") - 0.7) < 1e-12)
    assert(g.getAs[String]("recommendation") === "continue")
  }

  test("is_success: met weight ≥ 0.9 total (goal.py:160-168)") {
    val ok = GoalProgress.isSuccess(criteria, decisions).head()
    assert(!ok.getAs[Boolean]("is_success")) // only c2 fully met (0.4)
  }
}

class SqlGateSpec extends SparkTestBase {

  test("SELECT passes, writes/DDL are blocked on the parsed plan") {
    assert(SqlGate.isSelectOnly(spark, "SELECT 1"))
    assert(SqlGate.isSelectOnly(spark,
      "WITH t AS (SELECT 1 AS x) SELECT * FROM t"))
    for (bad <- Seq(
        "DROP TABLE data",
        "CREATE TABLE t(x INT)",
        "INSERT INTO data VALUES (1)",
        "/* sneaky */ DELETE FROM data",
        // EXECUTE IMMEDIATE wraps arbitrary SQL in a non-Command plan
        "EXECUTE IMMEDIATE 'DROP TABLE data'"))
      assert(!SqlGate.isSelectOnly(spark, bad), bad)
    intercept[SqlGate.BlockedSqlException](
      SqlGate.query(spark, "DROP TABLE data"))
  }

  test("adversarial corpus: command shapes cannot pass the gate " +
      "(regression wall for Spark upgrades)") {
    // blocked = isSelectOnly returns false OR the parse itself throws
    // (multi-statement); either way query() cannot reach execution
    def blocked(sql: String): Boolean =
      scala.util.Try(SqlGate.isSelectOnly(spark, sql)).map(!_)
        .getOrElse(true)
    val corpus = Seq(
      // CTE-wrapped DML
      "WITH t AS (SELECT 1 AS x) INSERT INTO data SELECT * FROM t",
      "WITH t AS (SELECT 1 AS x) DELETE FROM data WHERE id IN (SELECT x FROM t)",
      // EXECUTE IMMEDIATE variants — including an innocent-looking one
      "EXECUTE IMMEDIATE 'DROP TABLE data'",
      "EXECUTE IMMEDIATE 'SELECT 1'",
      "EXECUTE IMMEDIATE 'DELETE FROM data' USING 1 AS x",
      // DML family
      "UPDATE data SET v = 1 WHERE id = 1",
      "DELETE FROM data WHERE id = 1",
      "MERGE INTO data USING data AS s ON data.id = s.id " +
        "WHEN MATCHED THEN DELETE",
      "INSERT OVERWRITE DIRECTORY '/tmp/leak' SELECT * FROM data",
      // DDL family
      "DROP TABLE data", "TRUNCATE TABLE data",
      "ALTER TABLE data ADD COLUMNS (y INT)",
      "CREATE OR REPLACE TEMPORARY VIEW v AS SELECT 1",
      // eager-at-Dataset-creation commands (the spark.sql trap)
      "CACHE TABLE sneaky AS SELECT * FROM data",
      "SET spark.sql.ansi.enabled=false",
      "ANALYZE TABLE data COMPUTE STATISTICS",
      "REFRESH TABLE data",
      "DECLARE sneaky_var INT",
      // multi-statement
      "SELECT 1; DROP TABLE data")
    corpus.foreach(sql => assert(blocked(sql), s"NOT BLOCKED: $sql"))
    // positive controls — genuinely read-only shapes must keep passing
    Seq(
      "SELECT 1",
      "WITH t AS (SELECT 1 AS x) SELECT * FROM t",
      "SELECT * FROM (SELECT 1 AS x) WHERE x IN (SELECT 1)",
      "SELECT 1 UNION ALL SELECT 2",
      "SELECT /*+ BROADCAST(t) */ * FROM (SELECT 1 AS x) t")
      .foreach(sql =>
        assert(SqlGate.isSelectOnly(spark, sql), s"BLOCKED: $sql"))
  }

  test("csvSql: header-derived view `data` (csv_tool.py:273-310)") {
    val dir = java.nio.file.Files.createTempDirectory("csvsql").toFile
    val f = new java.io.File(dir, "t.csv")
    java.nio.file.Files.writeString(f.toPath,
      "name,price\nwidget,9.5\ngadget,12.0\nwidget,1.0\n")
    val out = SqlGate.csvSql(spark, f.getAbsolutePath,
      "SELECT name, SUM(price) AS total FROM data GROUP BY name ORDER BY name")
    val rows = out.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(rows.toSeq === Seq(("gadget", 12.0), ("widget", 10.5)))
  }

  test("csv_sql docstring contract queries (FIXTURES §1.1, csv_tool.py:292-309)") {
    val dir = java.nio.file.Files.createTempDirectory("csvfix").toFile
    val f = new java.io.File(dir, "products.csv")
    java.nio.file.Files.writeString(f.toPath,
      """name,category,price,status
        |Phone X,electronics,599.99,pending
        |Laptop Pro,electronics,1299.0,shipped
        |Desk Lamp,home,39.5,pending
        |phone case,accessories,19.99,shipped
        |""".stripMargin)
    val p = f.getAbsolutePath
    assert(SqlGate.csvSql(spark, p,
      "SELECT * FROM data WHERE status = 'pending'").count() === 2)
    val agg = SqlGate.csvSql(spark, p,
      """SELECT category, COUNT(*) AS count, AVG(price) AS avg_price
        |FROM data GROUP BY category ORDER BY category""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(agg.toSeq === Seq(("accessories", 1L), ("electronics", 2L),
      ("home", 1L)))
    val top = SqlGate.csvSql(spark, p,
      "SELECT name, price FROM data ORDER BY price DESC LIMIT 5")
      .collect().map(_.getString(0))
    assert(top.head === "Laptop Pro")
    assert(SqlGate.csvSql(spark, p,
      "SELECT * FROM data WHERE LOWER(name) LIKE '%phone%'")
      .count() === 2)
  }

  test("sheet join contract (FIXTURES §1.2, excel_tool.py:505-509)") {
    import spark.implicits._
    val sheets = Map(
      "Sales" -> Seq((1L, 100.0, "EU"), (2L, 50.0, "US"))
        .toDF("product_id", "amount", "region"),
      "Product List" -> Seq((1L, "Phone", "electronics"),
        (2L, "Lamp", "home")).toDF("id", "name", "category"))
    val out = SqlGate.sheetSql(spark, sheets,
      """SELECT s.*, p.name FROM Sales s
        |JOIN Product_List p ON s.product_id = p.id
        |ORDER BY s.product_id""".stripMargin)
    assert(out.columns.toSeq ===
      Seq("product_id", "amount", "region", "name"))
    assert(out.collect().map(_.getString(3)).toSeq === Seq("Phone", "Lamp"))
  }
}
