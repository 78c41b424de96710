package graft

import graft.functions.{Fns, JsonRepair}
import graft.operators.{BuilderQueries, Checkpoints, Routing}
import graft.sources.{Catalog, SessionSource}
import graft.streaming.EventStream
import graft.streaming.EventStream.{AgentEvent, Subscription}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

class JsonRepairSpec extends SparkTestBase {

  test("findJsonObject: balanced nested braces (node.py:89-138)") {
    assert(JsonRepair.findJsonObject("""pre {"a": {"b": 1}} post""")
      === Some("""{"a": {"b": 1}}"""))
    assert(JsonRepair.findJsonObject("no braces") === None)
    assert(JsonRepair.findJsonObject("} backwards {") === None)
    // braces inside strings don't count toward depth
    assert(JsonRepair.findJsonObject("""{"a": "}"} tail""")
      === Some("""{"a": "}"}"""))
  }

  test("fast path returns widest span when it parses") {
    // two objects; widest span "{...} {...}" doesn't parse, so the
    // brace matcher returns the FIRST balanced object
    assert(JsonRepair.findJsonObject("""{"a":1} {"b":2}""")
      === Some("""{"a":1}"""))
  }

  test("fixUnescapedNewlines repairs only inside strings (node.py:33-86)") {
    val broken = "{\"a\": \"line1\nline2\"}"
    val fixed = JsonRepair.fixUnescapedNewlines(broken)
    assert(fixed === "{\"a\": \"line1\\nline2\"}")
    // newlines outside strings (formatting) untouched
    val formatted = "{\n  \"a\": 1\n}"
    assert(JsonRepair.fixUnescapedNewlines(formatted) === formatted)
  }

  test("extractAndRepair: repair tier kicks in when direct parse fails") {
    val text = "noise {\"k\": \"v1\nv2\"} more"
    val got = JsonRepair.extractAndRepair(text)
    assert(got === Some("{\"k\": \"v1\\nv2\"}"))
  }

  test("500 KB object extracted under 0.5 s (test_node_json_performance.py:33-44)") {
    val big = "{\"data\": \"" + ("x" * 500000) + "\"}"
    val text = "prefix " + big + " suffix"
    val t0 = System.nanoTime()
    val got = JsonRepair.findJsonObject(text)
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(got === Some(big))
    assert(elapsed < 0.5, s"took $elapsed s")
  }

  test("extractJson UDF over a DataFrame") {
    import spark.implicits._
    val df = Seq("""answer: {"x": 1}""", "nothing here").toDF("raw")
      .select(JsonRepair.extractJson(col("raw")).as("obj"))
    assert(df.collect().map(r => Option(r.getString(0))).toSeq
      === Seq(Some("""{"x": 1}"""), None))
  }
}

class SessionSourceSpec extends SparkTestBase {

  private def writeSession(root: java.io.File, id: String,
      status: String, completedAt: Option[String],
      startedAt: String = "2026-03-01T10:00:00+00:00",
      updatedAt: String = "2026-03-01T10:05:00+00:00"): Unit = {
    val dir = new java.io.File(root, id)
    dir.mkdirs()
    val completed = completedAt.map(c => s""""$c"""").getOrElse("null")
    Files.writeString(new java.io.File(dir, "state.json").toPath,
      s"""{"schema_version":"1.1","session_id":"$id","goal_id":"g1",
         |"status":"$status",
         |"timestamps":{"started_at":"$startedAt",
         |"updated_at":"$updatedAt",
         |"completed_at":$completed},
         |"progress":{"steps_executed":3,"path":["a","b"]},
         |"result":{"success":true}}""".stripMargin.replace("\n", ""))
  }

  test("load: schema, duration_ms, is_resumable (session_state.py:146-165)") {
    val root = Files.createTempDirectory("sessions").toFile
    writeSession(root, "session_20260301_100000_aaaa1111", "completed",
      Some("2026-03-01T10:05:00+00:00"))
    writeSession(root, "session_20260301_110000_bbbb2222", "paused", None)
    // corrupt file must not fail the scan
    val bad = new java.io.File(root, "session_bad"); bad.mkdirs()
    Files.writeString(new java.io.File(bad, "state.json").toPath,
      "{ not json")

    val df = SessionSource.load(spark, root.getAbsolutePath)
    assert(df.count() === 2)
    val byId = df.collect().map(r =>
      r.getAs[String]("session_id") -> r).toMap
    val done = byId("session_20260301_100000_aaaa1111")
    assert(done.getAs[Long]("duration_ms") === 300000L)
    assert(!done.getAs[Boolean]("is_resumable"))
    val paused = byId("session_20260301_110000_bbbb2222")
    assert(paused.getAs[Long]("duration_ms") === 0L)
    assert(paused.getAs[Boolean]("is_resumable"))
  }

  test("scan: status filter + resumable pseudo-status + limit " +
      "(session_store.py:121-173)") {
    val root = Files.createTempDirectory("sessions2").toFile
    writeSession(root, "session_20260301_100000_aaaa1111", "completed",
      Some("2026-03-01T10:05:00+00:00"), "2026-03-01T10:00:00+00:00")
    writeSession(root, "session_20260301_110000_bbbb2222", "paused", None,
      "2026-03-01T11:00:00+00:00")
    writeSession(root, "session_20260301_120000_cccc3333", "failed", None,
      "2026-03-01T12:00:00+00:00")
    val sessions = SessionSource.load(spark, root.getAbsolutePath)
    assert(SessionSource.scan(sessions, Some("paused")).count() === 1)
    assert(SessionSource.scan(sessions, Some("resumable")).count() === 2)
    assert(SessionSource.scan(sessions, None, limit = 2).count() === 2)
    // newest first
    val first = SessionSource.scan(sessions, None).head()
    assert(first.getAs[String]("session_id")
      === "session_20260301_120000_cccc3333")
  }

  test("scanPrioritized: live sessions first, then recency " +
      "(worker_monitoring_tools.py:109-117)") {
    val root = Files.createTempDirectory("sessions3").toFile
    // newest overall is COMPLETED; an older in_progress session must
    // still sort first (priority level beats recency)
    writeSession(root, "session_20260301_100000_aaaa1111", "completed",
      Some("2026-03-01T14:00:00+00:00"),
      updatedAt = "2026-03-01T14:00:00+00:00")
    writeSession(root, "session_20260301_110000_bbbb2222", "in_progress",
      None, updatedAt = "2026-03-01T11:30:00+00:00")
    writeSession(root, "session_20260301_120000_cccc3333", "running",
      None, updatedAt = "2026-03-01T12:30:00+00:00")
    val sessions = SessionSource.load(spark, root.getAbsolutePath)
    val ordered = SessionSource.scanPrioritized(sessions).collect()
      .map(_.getAs[String]("session_id")).toSeq
    assert(ordered === Seq(
      "session_20260301_120000_cccc3333", // live, newer update
      "session_20260301_110000_bbbb2222", // live, older update
      "session_20260301_100000_aaaa1111")) // finished, newest of all
  }

  test("inferStartedAt parses the id timestamp (runtime_log_store.py:290+)") {
    import spark.implicits._
    val got = Seq("session_20260301_103045_dead1234").toDF("id")
      .select(SessionSource.inferStartedAt(col("id")).as("ts"))
      .head().getTimestamp(0)
    assert(got.toString.startsWith("2026-03-01 10:30:45"))
  }
}

class CatalogSpec extends SparkTestBase {

  test("listTables / describeTable / explain (postgres_tool.py:85-107)") {
    import spark.implicits._
    Seq((1, "a")).toDF("id", "v").createOrReplaceTempView("cat_t1")
    val tables = Catalog.listTables(spark)
      .filter(col("table_name") === "cat_t1").collect()
    assert(tables.length === 1 && tables.head.getAs[Boolean]("is_temporary"))
    val cols = Catalog.describeTable(spark, "cat_t1").collect()
    assert(cols.map(_.getAs[String]("column_name")).toSeq
      === Seq("id", "v"))
    val plan = Catalog.explainSql(spark, "SELECT id FROM cat_t1 WHERE id > 0")
    assert(plan.count() > 0)
    assert(Catalog.describeAll(spark)
      .filter(col("table_name") === "cat_t1")
      .head().getAs[Int]("n_columns") === 2)
  }
}

class ConversationSourceSpec extends SparkTestBase {
  import graft.sources.ConversationSource

  test("parts ordered by seq, spillover pointers, cursor restore " +
      "(conversation.py:92-127)") {
    val root = Files.createTempDirectory("conv").toFile
    val c1 = new java.io.File(root, "conv1"); c1.mkdirs()
    def part(seq: Int, role: String, content: String): Unit =
      Files.writeString(new java.io.File(c1, f"part-$seq%05d.json").toPath,
        s"""{"seq":$seq,"role":"$role","content":"$content"}""")
    part(1, "user", "hi")
    part(2, "assistant", "working")
    part(3, "tool",
      "Result truncated (was 48200 chars), saved to 'tool_fetch_abc.txt'")
    Files.writeString(new java.io.File(c1, "cursor.json").toPath,
      """{"next_seq":4,"iteration":2,"outputs":{"draft":"v1"}}""")

    val msgs = ConversationSource.messages(spark, root.getAbsolutePath)
    assert(msgs.count() === 3)
    assert(msgs.select("seq").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 2L, 3L))
    val spill = ConversationSource.spilloverPointers(msgs).head()
    assert(spill.getAs[String]("spillover_file") === "tool_fetch_abc.txt")
    val cur = ConversationSource.cursors(spark, root.getAbsolutePath).head()
    assert(cur.getAs[Long]("next_seq") === 4L)
    assert(cur.getAs[Map[String, String]]("outputs") === Map("draft" -> "v1"))
  }
}

class RuntimeLogSourceSpec extends SparkTestBase {
  import graft.sources.RuntimeLogSource
  import graft.operators.LogRollups

  private def mkWorkDir(): java.io.File = {
    val work = Files.createTempDirectory("rtlogs").toFile
    // new layout, with summary + step logs (incl. one corrupt line)
    val s1 = new java.io.File(work,
      "sessions/session_20260301_100000_aaaa0001/logs")
    s1.mkdirs()
    Files.writeString(new java.io.File(s1, "summary.json").toPath,
      """{"run_id":"session_20260301_100000_aaaa0001","status":"failure",
        |"started_at":"2026-03-01T10:00:00","needs_attention":true,
        |"attention_reasons":["retries"],"execution_quality":"failed",
        |"node_path":["fetch","draft"],"total_input_tokens":6000,
        |"total_output_tokens":2211,"duration_ms":45210}"""
        .stripMargin.replace("\n", ""))
    Files.writeString(new java.io.File(s1, "tool_logs.jsonl").toPath,
      """{"node_id":"draft","step_index":1,"verdict":"CONTINUE","input_tokens":100,"output_tokens":20,"latency_ms":900,"error":""}
        |{"node_id":"draft","step_index":2,"verdict":"RETRY","input_tokens":200,"output_tokens":30,"latency_ms":1100,"error":""}
        |this line is corrupt {{{
        |{"node_id":"draft","step_index":3,"verdict":"ACCEPT","input_tokens":150,"output_tokens":25,"latency_ms":800,"error":""}
        |""".stripMargin)
    // new layout, NO summary yet -> synthesized in_progress
    new java.io.File(work,
      "sessions/session_20260301_110000_bbbb0002/logs").mkdirs()
    // old layout
    val old = new java.io.File(work, "runtime_logs/runs/run_legacy_01")
    old.mkdirs()
    Files.writeString(new java.io.File(old, "summary.json").toPath,
      """{"run_id":"run_legacy_01","status":"success",
        |"started_at":"2026-02-01T09:00:00","needs_attention":false,
        |"execution_quality":"clean"}""".stripMargin.replace("\n", ""))
    work
  }

  test("summaries: both layouts + synthesized in_progress " +
      "(runtime_logs_tool.py:49-124)") {
    val work = mkWorkDir()
    val s = RuntimeLogSource.summaries(spark, work.getAbsolutePath)
    assert(s.count() === 3)
    val byId = s.collect().map(r =>
      r.getAs[String]("run_id") -> r.getAs[String]("status")).toMap
    assert(byId("session_20260301_110000_bbbb0002") === "in_progress")
    assert(byId("run_legacy_01") === "success")
    // needs_attention is a flag filter, not a status value
    assert(RuntimeLogSource.scan(s, Some("needs_attention")).count() === 1)
    assert(RuntimeLogSource.scan(s, Some("success")).count() === 1)
    // newest first
    assert(RuntimeLogSource.scan(s).head().getAs[String]("run_id")
      === "session_20260301_100000_aaaa0001")
  }

  test("stepLogs normalize to the rollup contract; corrupt lines drop " +
      "(runtime_log_store.py:265-289)") {
    val work = mkWorkDir()
    val steps = RuntimeLogSource.stepLogs(spark, work.getAbsolutePath)
    assert(steps.count() === 3) // corrupt line dropped
    assert(steps.select("verdict").collect().map(_.getString(0)).sorted
      === Array("accept", "continue", "retry"))
    // composes with the window operators
    val ssla = LogRollups.stepsSinceLastAccept(steps)
      .filter(col("step") === 3).head()
    assert(ssla.getAs[Long]("steps_since_accept") === 0L)
    val l2 = LogRollups.l3ToL2(steps).head()
    assert(l2.getAs[Long]("step_count") === 3L)
    assert(l2.getAs[String]("exit_status") === "completed")
  }
}

class CompactionSpec extends SparkTestBase {
  import graft.sources.Compaction

  test("sessions JSON -> date-partitioned parquet + freshness union " +
      "(SURVEY §7.4.5)") {
    val root = Files.createTempDirectory("csess").toFile
    def put(id: String, startedAt: String): Unit = {
      val d = new java.io.File(root, id); d.mkdirs()
      Files.writeString(new java.io.File(d, "state.json").toPath,
        s"""{"schema_version":"1.1","session_id":"$id","goal_id":"g",
           |"status":"completed",
           |"timestamps":{"started_at":"$startedAt",
           |"updated_at":"$startedAt","completed_at":"$startedAt"},
           |"progress":{"steps_executed":1},"result":{"success":true}}"""
          .stripMargin.replace("\n", ""))
    }
    put("session_20260301_100000_aaaa0001", "2026-03-01T10:00:00+00:00")
    put("session_20260302_100000_aaaa0002", "2026-03-02T10:00:00+00:00")
    val out = Files.createTempDirectory("cout").toString + "/sessions"
    assert(Compaction.compactSessions(spark, root.getAbsolutePath, out) === 2)
    // partition layout exists and prunes
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("started_date=2026-03-01",
      "started_date=2026-03-02"))
    // freshness tail merges and dedups by session_id
    put("session_20260303_100000_aaaa0003", "2026-03-03T10:00:00+00:00")
    val view = Compaction.sessionsView(spark, out,
      Some(root.getAbsolutePath))
    assert(view.count() === 3)
  }

  test("zorderWrite: clustered files' zone maps prune BOTH dims " +
      "where a time-linear write leaves user_id unprunable") {
    import graft.Tables
    import org.apache.spark.sql.types.DoubleType
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"),
        expr("ts div 3600000000000").as("hr"))
    val out = Files.createTempDirectory("zw").toString + "/z"
    val zones = Compaction.zorderWrite(ev, "user_id", "hr", out,
      files = 8).collect()
    assert(zones.length === 8)
    assert(zones.map(_.getAs[Long]("n_rows")).sum === ev.count())
    // the written data round-trips (no rows altered by the reshuffle)
    assert(spark.read.parquet(out).select("event_id").distinct().count()
      === ev.count())
    def spanFrac(rows: Array[org.apache.spark.sql.Row], dim: String,
        lo: Long, hi: Long): Double =
      rows.map(r => (r.getAs[Long](s"max_$dim") -
        r.getAs[Long](s"min_$dim") + 1).toDouble / (hi - lo + 1))
        .sum / rows.length
    val (u0, u1) = (0L, ev.agg(max("user_id")).head.getLong(0))
    val (h0, h1) = (ev.agg(min("hr")).head.getLong(0),
      ev.agg(max("hr")).head.getLong(0))
    val zUser = spanFrac(zones, "user_id", u0, u1)
    // the linear control: same data written in pure time order
    val lin = Files.createTempDirectory("zw").toString + "/l"
    ev.repartitionByRange(8, col("hr"), col("event_id"))
      .write.parquet(lin)
    val linZones = spark.read.parquet(lin)
      .groupBy(input_file_name()).agg(count(lit(1)).as("n_rows"),
        min("user_id").as("min_user_id"), max("user_id").as("max_user_id"))
      .collect()
    val lUser = spanFrac(linZones, "user_id", u0, u1)
    // time-ordered files see ~every user (no pruning on user_id);
    // z-ordered files must cut that span at least in half
    assert(lUser > 0.9, s"control layout should be unprunable: $lUser")
    assert(zUser < lUser / 2,
      s"z-order user span $zUser vs linear $lUser")
    // and the hour dim stays bounded too (not sacrificed for user)
    assert(spanFrac(zones, "hr", h0, h1) < 0.7)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    import spark.implicits._
    import graft.sources.Compaction
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a non-broadcast join so the Exchange check is meaningful
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Compaction.compactBucketedForJoin(
        (1 to 100).map(i => (i.toLong, s"run_$i")).toDF("run_id", "status"),
        "bk_runs", "run_id", 4)
      Compaction.compactBucketedForJoin(
        (1 to 300).map(i => ((i % 100 + 1).toLong, s"d_$i"))
          .toDF("run_id", "decision"),
        "bk_decisions", "run_id", 4)
      val joined = spark.table("bk_runs")
        .join(spark.table("bk_decisions"), "run_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() === 300)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bk_runs")
      spark.sql("DROP TABLE IF EXISTS bk_decisions")
    }
  }

  test("events JSONL -> date-partitioned parquet (reference layout, " +
      "event_bus.py:150-162)") {
    val dir = Files.createTempDirectory("cev").toFile
    // exactly what AgentEvent.to_dict + json.dumps writes
    Files.writeString(new java.io.File(dir, "ev.jsonl").toPath,
      """{"type":"node_started","stream_id":"s","node_id":null,"execution_id":null,"data":{},"timestamp":"2026-03-01T10:00:00.123456","correlation_id":null,"graph_id":null}
        |{"type":"node_completed","stream_id":"s","node_id":"n1","execution_id":"x1","data":{"k":"v"},"timestamp":"2026-03-02T11:00:00.000001","correlation_id":"c1","graph_id":"g1"}
        |corrupt line
        |""".stripMargin)
    val out = Files.createTempDirectory("cevo").toString + "/events"
    assert(Compaction.compactEvents(spark, dir.getAbsolutePath, out) === 2)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("event_date=2026-03-01",
      "event_date=2026-03-02"))
  }
}

class MoreOperatorsSpec extends SparkTestBase {

  test("plan audit: e16 funnel stages push event_type to the parquet " +
      "scan; t07 grams scan prunes to (doc_id, text)") {
    val dir = "/root/testdata/sf0.001"
    val funnel = graft.queries.EventAnalytics.e16.run(spark, dir)
      .queryExecution.executedPlan.toString
    // the funnel's ONE scan must read only funnel-event rows at the
    // source — the 100 TB contract (r12 single-exchange rewrite: the
    // three per-stage scans with per-type EqualTo pushdowns became
    // one scan whose In-filter pushes the same restriction)
    assert(funnel.contains("In(event_type, [click,purchase,view])") ||
      funnel.contains("In(event_type, [view,click,purchase])"),
      "missing In(event_type, ...) pushdown on the funnel scan")
    assert("Exchange hashpartitioning\\(user_id".r
      .findAllIn(funnel).length <= 1,
      "funnel should pay at most one user_id exchange")
    val rep = graft.queries.TextAnalysis.t07.run(spark, dir)
      .queryExecution.executedPlan.toString
    assert(rep.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "t07 should prune the documents scan to doc_id+text")
    // q06 is the selectivity showcase: every predicate must reach the
    // parquet scan (at 100 TB the row-group skip IS the query) and the
    // scan must not read the wide columns
    val q06 = graft.queries.Relational.q06.run(spark, dir)
      .queryExecution.executedPlan.toString
    Seq("l_shipdate", "l_discount", "l_quantity").foreach(c =>
      assert(q06.contains(s"IsNotNull($c)") || q06.matches(
        s"(?s).*PushedFilters: \\[[^\\]]*$c.*"),
        s"q06 predicate on $c did not reach the scan"))
    assert(!q06.contains("l_comment") && !q06.contains("l_orderkey"),
      "q06 scan reads columns the query never touches")
  }

  test("d02 hub-shingle cap drops grams with df > 1000 " +
      "(skew guard fires, not just documented)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("hubsf").toFile.getAbsolutePath
    // 1200 docs all start with the hub gram "spark hub gram" (df=1200
    // > 1000 -> capped); docs 1 and 2 share an identical rare tail, so
    // after the cap they share all 4 surviving grams
    val docs = (1 to 1200).map { i =>
      val tail =
        if (i <= 2) "rare tail match here"
        else s"unique$i filler$i words$i"
      (i.toLong, s"spark hub gram $tail")
    }.toDF("doc_id", "text")
    docs.write.parquet(s"$dir/documents.parquet")
    val out = graft.queries.TextDedup.d02.run(spark, dir).collect()
    // without the df cap the hub gram alone would put all 1200 docs in
    // one candidate block (~719k pairs); with it, only the rare-tail
    // pair remains
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("doc_a") === 1L && r.getAs[Long]("doc_b") === 2L)
    assert(r.getAs[Long]("inter") === 4L)
    assert(r.getAs[Double]("jaccard") === 1.0)
  }

  test("e15 doom loop fires on identical (tool, args) streaks only " +
      "(event_loop_node.py:2108-2152)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("doomsf").toFile.getAbsolutePath
    val ts = Timestamp.valueOf("2026-03-01 10:00:00")
    // u1: 3 identical (search, {"q":1}) turns -> doom
    // u2: same tool 3x but args differ on turn 3 -> no doom (e07 would
    //     flag this one; the args are the point of e15)
    // u3: alternating tools -> no doom
    val rows = Seq(
      (1L, ts, 1L, "search", 1.0, """{"q":1}"""),
      (2L, ts, 1L, "search", 1.0, """{"q":1}"""),
      (3L, ts, 1L, "search", 1.0, """{"q":1}"""),
      (4L, ts, 2L, "search", 1.0, """{"q":1}"""),
      (5L, ts, 2L, "search", 1.0, """{"q":1}"""),
      (6L, ts, 2L, "search", 1.0, """{"q":2}"""),
      (7L, ts, 3L, "fetch", 1.0, """{"u":1}"""),
      (8L, ts, 3L, "search", 1.0, """{"q":1}"""),
      (9L, ts, 3L, "fetch", 1.0, """{"u":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.write.parquet(s"$dir/events.parquet")
    val out = graft.queries.EventAnalytics.e15.run(spark, dir)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("is_doom_loop"))
    assert(out(1L).getAs[Long]("n_doom_points") === 1L)
    assert(out(1L).getAs[String]("description") ===
      "Doom loop detected: 3 consecutive identical tool calls (search)")
    assert(!out(2L).getAs[Boolean]("is_doom_loop"))
    assert(out(2L).getAs[String]("description") === "")
    assert(!out(3L).getAs[Boolean]("is_doom_loop"))
  }

  test("narrative operator assembles all template clauses " +
      "(run.py:160-189)") {
    import spark.implicits._
    import graft.operators.BuilderQueries
    val runs = Seq(
      ("r1", "completed"), ("r2", "failed"), ("r3", "completed"))
      .toDF("run_id", "status")
    val decisions = Seq(
      ("r1", 0, "plan", true), ("r1", 1, "build", true),
      ("r2", 0, "plan", true), ("r2", 1, "fetch data", false),
      ("r2", 2, "parse json", false), ("r2", 3, "retry fetch", false),
      ("r2", 4, "give up", false))
      .toDF("run_id", "idx", "intent", "success")
    val problems = Seq(
      ("r2", 0, "critical", "db unreachable"),
      ("r2", 1, "warning", "slow responses"),
      ("r2", 2, "critical", "quota exceeded"))
      .toDF("run_id", "idx", "severity", "description")
    val out = BuilderQueries
      .narrative(runs, decisions, Some(problems))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out("r1") ===
      "Run completed successfully. Made 2 decisions: 2 succeeded, 0 failed.")
    // failed run: all clauses, insertion-ordered problems, first 3
    // failed intents only. The problems/failed-on clauses carry no
    // trailing period — exactly the reference's f-strings.
    assert(out("r2") ===
      "Run failed. Made 5 decisions: 1 succeeded, 4 failed. " +
      "Critical issues: db unreachable, quota exceeded " +
      "Warnings: slow responses " +
      "Failed on: fetch data, parse json, retry fetch")
    // run with no decisions at all: zero-count summary, like the
    // reference's metrics defaults
    assert(out("r3") ===
      "Run completed successfully. Made 0 decisions: 0 succeeded, 0 failed.")
  }

  test("percentage parse with 0.8 fallback (outcome_aggregator.py:362-372)") {
    import spark.implicits._
    val got = Seq("95%", "42", "garbage", null)
      .toDF("t")
      .select(Fns.parsePercent(col("t")).as("p"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got === Seq(0.95, 0.42, 0.8, 0.8))
  }

  test("durationMs over ISO pairs (run.py:102-109)") {
    import spark.implicits._
    val got = Seq(
      ("2026-03-01T10:00:00+00:00", "2026-03-01T10:00:05+00:00"),
      ("2026-03-01T10:00:00+00:00", null))
      .toDF("a", "b")
      .select(Fns.durationMs(col("a"), col("b")).as("d"))
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(5000L, 0L))
  }

  test("checkpoint latest-clean + resume points (checkpoint.py:171-177)") {
    import spark.implicits._
    val cp = Seq(
      ("s1", "c1", "node_start", "a", Timestamp.valueOf("2026-03-01 10:00:00"), true),
      ("s1", "c2", "node_complete", "b", Timestamp.valueOf("2026-03-01 10:05:00"), true),
      ("s1", "c3", "pause", "c", Timestamp.valueOf("2026-03-01 10:06:00"), false),
      ("s2", "c4", "node_start", "x", Timestamp.valueOf("2026-03-01 09:00:00"), false))
      .toDF("session_id", "checkpoint_id", "checkpoint_type",
        "current_node", "created_at", "is_clean")
    val latest = Checkpoints.latestClean(cp).collect()
    assert(latest.length === 1)
    assert(latest.head.getAs[String]("checkpoint_id") === "c2")
    val rp = Checkpoints.resumePoints(cp).head()
    assert(rp.getAs[String]("resume_from") === "b")
    assert(Checkpoints.withinAge(cp,
      Timestamp.valueOf("2026-03-01 10:01:00")).count() === 2)
  }

  test("firstMatch: highest priority wins, ties break on target, " +
      "non-traversable filtered, edgeless states absent — and it " +
      "agrees row-for-row with GraphRunner's compiled when-chain " +
      "on the same graph (edge.py:497-500)") {
    import spark.implicits._
    // dataframe-grain variant, direct semantics
    val candidates = Seq(
      // s1: two traversable at p2/p1 -> p2 wins
      ("s1", "a", "hi", 2, true), ("s1", "b", "lo", 1, true),
      // s2: equal priority, both traversable -> target 'm' < 'z'
      ("s2", "z", "t1", 1, true), ("s2", "m", "t2", 1, true),
      // s3: the top-priority edge is NOT traversable -> p1 wins
      ("s3", "x", "best", 9, false), ("s3", "y", "fallback", 1, true),
      // s4: nothing traversable -> absent from the result
      ("s4", "q", "no", 5, false))
      .toDF("state_id", "target", "tag", "priority", "ok")
    val got = Routing.firstMatch(candidates, col("ok"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === Map("s1" -> "a", "s2" -> "m", "s3" -> "y"))
    // cross-check vs the compiled dispatch: one GraphRunner step over
    // a mixed-condition graph must pick exactly what firstMatch picks
    // from the equivalent exploded candidate relation
    import graft.model.Model.EdgeSpec
    val edges = Seq(
      EdgeSpec("n", "t_hi", condition = "conditional",
        conditionExpr = Some("memory.get('k') == 'go'"), priority = 3),
      EdgeSpec("n", "t_fail", condition = "on_failure", priority = 2),
      EdgeSpec("n", "t_b", condition = "always", priority = 1),
      EdgeSpec("n", "t_a", condition = "always", priority = 1))
    val init = Seq(
      ("g1", "n", true, Map("k" -> "go")),   // conditional p3 wins
      ("g2", "n", true, Map("k" -> "stop")), // tie t_a < t_b wins
      ("g3", "n", false, Map.empty[String, String])) // on_failure p2
      .toDF("state_id", "node", "success", "memory")
    val stepped = graft.operators.GraphRunner
      .run(spark, edges, Set("t_hi", "t_fail", "t_a", "t_b"), init,
        nodeOutputs = Map.empty, maxSteps = 1)
      .collect().map(r => r.getAs[String]("state_id") ->
        r.getAs[String]("node")).toMap
    val cands = init.select(col("state_id"), col("success"),
        col("memory"))
      .crossJoin(edges.map(e => (e.target,
        e.condition, e.conditionExpr.getOrElse(""), e.priority))
        .toDF("target", "condition", "cexpr", "priority"))
    val trav = when(col("condition") === "always", lit(true))
      .when(col("condition") === "on_failure", !col("success"))
      .when(col("condition") === "conditional" &&
        col("cexpr") === "memory.get('k') == 'go'",
        graft.functions.SafeEval.condition("memory.get('k') == 'go'",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("memory",
              org.apache.spark.sql.types.MapType(
                org.apache.spark.sql.types.StringType,
                org.apache.spark.sql.types.StringType))))))
      .otherwise(lit(false))
    val viaWindow = Routing.firstMatch(cands, trav)
      .collect().map(r => r.getAs[String]("state_id") ->
        r.getAs[String]("target")).toMap
    assert(stepped === viaWindow)
    assert(stepped === Map("g1" -> "t_hi", "g2" -> "t_a",
      "g3" -> "t_fail"))
  }

  test("GraphRunner: unknown conditions (llm_decide) fall back to " +
      "the success flag (edge.py:271-274)") {
    import spark.implicits._
    import graft.model.Model.EdgeSpec
    val edges = Seq(
      EdgeSpec("n", "won", condition = "llm_decide", priority = 2),
      EdgeSpec("n", "lost", condition = "on_failure", priority = 1))
    val init = Seq(
      ("ok", "n", true, Map.empty[String, String]),
      ("ko", "n", false, Map.empty[String, String]))
      .toDF("state_id", "node", "success", "memory")
    val out = graft.operators.GraphRunner
      .run(spark, edges, Set("won", "lost"), init,
        nodeOutputs = Map.empty, maxSteps = 3)
      .collect().map(r => r.getAs[String]("state_id") ->
        ((r.getAs[String]("node"), r.getAs[String]("status")))).toMap
    assert(out("ok") === (("won", "completed")))
    assert(out("ko") === (("lost", "completed")))
  }

  test("LlmBoundary: a plugged decider overrides LLM_DECIDE routing " +
      "per edge while the default stays the reference fallback; the " +
      "judge and cleaner hooks default to implicitJudge/extractJson") {
    import spark.implicits._
    import graft.model.Model.EdgeSpec
    import org.apache.spark.sql.Column
    // a deterministic 'model': route to whichever target the state's
    // memory hint names — the shape a real client resolves to (a
    // per-row verdict column), exercised through the SAME when-chain
    val hinted = new Routing.LlmBoundary {
      override def decideEdge(source: String, target: String,
          successCol: Column): Column =
        coalesce(element_at(col("memory"), "llm_hint") === target,
          lit(false))
    }
    val edges = Seq(
      EdgeSpec("n", "won", condition = "llm_decide", priority = 2),
      EdgeSpec("n", "alt", condition = "llm_decide", priority = 1))
    val init = Seq(
      // success=true: the FALLBACK would take 'won' (higher priority);
      // the hinted decider must route to 'alt'
      ("hint_alt", "n", true, Map("llm_hint" -> "alt")),
      ("hint_won", "n", true, Map("llm_hint" -> "won")),
      // no hint: the plugged decider declines both edges -> stuck
      ("no_hint", "n", true, Map.empty[String, String]))
      .toDF("state_id", "node", "success", "memory")
    val out = graft.operators.GraphRunner
      .run(spark, edges, Set("won", "alt"), init,
        nodeOutputs = Map.empty, maxSteps = 3, llm = hinted)
      .collect().map(r => r.getAs[String]("state_id") ->
        ((r.getAs[String]("node"), r.getAs[String]("status")))).toMap
    assert(out("hint_alt") === (("alt", "completed")))
    assert(out("hint_won") === (("won", "completed")))
    assert(out("no_hint")._2 === "stuck")
    // same edges, default boundary: reference fallback routes both
    // successes to the higher-priority edge (the previous test's pin)
    val defOut = graft.operators.GraphRunner
      .run(spark, edges, Set("won", "alt"), init,
        nodeOutputs = Map.empty, maxSteps = 3)
      .collect().map(r => r.getAs[String]("state_id") ->
        r.getAs[String]("node")).toMap
    assert(defOut.values.toSet === Set("won"))
    // dataframe-grain traversable honors the same plug
    val cand = Seq(("s1", true, "a"), ("s1", true, "b"))
      .toDF("state_id", "source_success", "target")
      .withColumn("memory", map(lit("llm_hint"), lit("b")))
      .withColumn("priority", lit(1))
    val kept = Routing.firstMatch(cand,
      new Routing.LlmBoundary {
        override def decideEdge(source: String, target: String,
            successCol: Column): Column =
          element_at(col("memory"), "llm_hint") === col("target")
      }.decideEdge("", "", col("source_success")))
      .collect()
    assert(kept.length === 1 && kept(0).getAs[String]("target") === "b")
    // the other two hooks default to the documented fallbacks
    val fb = Routing.LlmBoundary.Fallback
    val row = Seq((Seq.empty[String], Seq.empty[String], false,
      """noise {"a": 1} tail"""))
      .toDF("tool_calls", "missing_keys", "nullable_only", "raw")
      .select(
        fb.judgeVerdict(col("tool_calls"), col("missing_keys"),
          col("nullable_only")).as("verdict"),
        fb.cleanOutput(col("raw")).as("cleaned"))
      .first()
    assert(row.getString(0) === "accept")
    assert(row.getString(1) === """{"a": 1}""")
  }

  test("branch merge strategies (executor.py:73-99)") {
    import spark.implicits._
    val out = Seq(
      ("s1", "k1", "from_b0", 0), ("s1", "k1", "from_b1", 1),
      ("s1", "k2", "only", 0))
      .toDF("state_id", "key", "value", "branch_idx")
    val lastWins = Routing.mergeBranches(out, "last_wins")
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(lastWins === Map("k1" -> "from_b1", "k2" -> "only"))
    val firstWins = Routing.mergeBranches(out, "first_wins")
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(firstWins("k1") === "from_b0")
    intercept[IllegalStateException](
      Routing.mergeBranches(out, "error").collect())
    assert(Routing.mergeBranches(
      out.filter(col("key") === "k2"), "error").count() === 1)
  }

  test("memory ACL enforcement (node.py:288-308)") {
    import spark.implicits._
    val state = Seq(("s1", "v1", "v2")).toDF("state_id", "a", "b")
    assert(Routing.enforceAcl(state, Set("state_id", "a"),
      Seq("state_id", "a")).columns.toSeq === Seq("state_id", "a"))
    intercept[IllegalArgumentException](
      Routing.enforceAcl(state, Set("state_id"), Seq("state_id", "b")))
  }

  test("implicit judge predicate (event_loop_node.py:1839-1931)") {
    import spark.implicits._
    val rows = Seq(
      (Seq.empty[String], Seq.empty[String], false), // accept
      (Seq("tool1"), Seq.empty[String], false), // retry: tool call
      (Seq.empty[String], Seq("out1"), false), // retry: missing key
      (Seq.empty[String], Seq.empty[String], true)) // retry: none set
      .toDF("tool_calls", "missing_keys", "nullable_only")
    val got = rows.select(Routing.implicitJudge(col("tool_calls"),
      col("missing_keys"), col("nullable_only")).as("v"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("accept", "retry", "retry", "retry"))
  }

  test("summary fallback lookup (storage/backend.py:116-127)") {
    import spark.implicits._
    val summaries = Seq(("r1", "completed", null.asInstanceOf[String]))
      .toDF("run_id", "status", "error")
    val runs = Seq(("r1", "completed", null.asInstanceOf[String]),
      ("r2", "failed", "boom")).toDF("run_id", "status", "error")
    val got = BuilderQueries.summaryWithFallback(summaries, runs)
      .collect().map(r => r.getAs[String]("run_id") ->
        (r.getAs[String]("status"), r.getAs[Boolean]("from_stored_summary")))
      .toMap
    assert(got("r1") === (("completed", true)))
    assert(got("r2") === (("failed", false)))
  }

  test("bounded history ring (event_bus.py:215-299)") {
    import spark.implicits._
    val hist = (1 to 10).map(i =>
      AgentEvent(s"t$i", "s1", None, None, new Timestamp(i * 1000L),
        Map.empty)).toDS().toDF()
    assert(EventStream.boundedHistory(hist, 3).count() === 3)
    // keeps the newest
    assert(EventStream.boundedHistory(hist, 3)
      .agg(min("ts")).head().getTimestamp(0) === new Timestamp(8000L))
  }

  test("entry() flagship returns rows at sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("operators tolerate empty inputs") {
    import spark.implicits._
    import graft.operators.{BuilderQueries, GraphOps, LogRollups}
    val emptySteps = Seq.empty[(String, String, Int, String, Long, Long,
      Long, String)].toDF("run_id", "node_id", "step", "verdict",
      "latency_ms", "tokens_in", "tokens_out", "exit_status")
    assert(LogRollups.l3ToL2(emptySteps).count() === 0)
    assert(LogRollups.l2ToL1(LogRollups.l3ToL2(emptySteps)).count() === 0)
    val emptyRuns = Seq.empty[(String, String, String, String)]
      .toDF("run_id", "goal_id", "status", "error")
    assert(BuilderQueries.topFailures(emptyRuns).count() === 0)
    val emptyEdges = Seq.empty[(String, String)].toDF("src", "dst")
    // an empty edge list fits any gate ≥ 0; -1 sends it down the
    // distributed loop
    Seq(GraphOps.LocalMaxEdges, -1).foreach(localMax => assert(GraphOps
      .reachable(emptyEdges, Seq("a"), 100, localMax).count() === 1))
  }

  test("GraphRunner: N sessions traverse conditional routes as rows " +
      "(executor.py:286-1300 re-expressed)") {
    import spark.implicits._
    import graft.model.Model.EdgeSpec
    import graft.operators.GraphRunner
    val edges = Seq(
      EdgeSpec("start", "classify", condition = "always"),
      EdgeSpec("classify", "draft", condition = "conditional",
        conditionExpr = Some("memory.get('score') == 'high'"),
        priority = 2),
      EdgeSpec("classify", "reject", condition = "on_success",
        priority = 1),
      EdgeSpec("draft", "review", condition = "always"))
    val init = Seq(
      ("s1", "start", true, Map("score" -> "high")),
      ("s2", "start", true, Map("score" -> "low")),
      ("s3", "start", false, Map.empty[String, String]))
      .toDF("state_id", "node", "success", "memory")
    val out = GraphRunner.run(spark, edges, Set("review", "reject"),
      init, nodeOutputs = Map("classify" -> Map("classified" -> "yes")))
    val byId = out.collect().map(r => r.getAs[String]("state_id") ->
      (r.getAs[String]("status"), r.getAs[Seq[String]]("path"))).toMap
    // high score routes through draft (priority 2 beats on_success)
    assert(byId("s1") === (("completed",
      Seq("start", "classify", "draft", "review"))))
    // low score falls to the on_success edge
    assert(byId("s2") === (("completed", Seq("start", "classify", "reject"))))
    // failed source: no traversable edge from classify -> stuck
    assert(byId("s3")._1 === "stuck")
    // outputs merged into memory before edge eval (executor.py:860-865)
    val mem = out.filter(col("state_id") === "s1")
      .head().getAs[Map[String, String]]("memory")
    assert(mem("classified") === "yes")
  }

  test("GraphRunner: chunked unroll keeps results across chunk " +
      "boundaries, frees its per-round checkpoints, and runs no job " +
      "before the caller's action at small budgets") {
    import spark.implicits._
    import graft.model.Model.EdgeSpec
    import graft.operators.GraphRunner
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // a 20-node chain n0 -> ... -> n19 (terminal): a session starting at
    // n_k moves 19-k times and completes in round 20-k. Rounds unroll
    // in chunks of 8, so k = 15 completes inside chunk 1, k = 12 and
    // k = 4 exactly on the chunk 1 / chunk 2 boundaries, and k = 0 in
    // chunk 3, the last one the early exit lets run
    val edges = (0 until 19).map(i => EdgeSpec(s"n$i", s"n${i + 1}"))
    val offsets = Seq(15, 12, 4, 0)
    val init = offsets.map(k => (s"s$k", s"n$k", true,
      Map.empty[String, String])).toDF("state_id", "node", "success", "memory")
    def traverse(maxSteps: Int) =
      GraphRunner.run(spark, edges, Set("n19"), init, Map.empty, maxSteps)
    def byId(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => r.getAs[String]("state_id") ->
        ((r.getAs[String]("status"), r.getAs[Seq[String]]("path")))).toMap
    def chain(from: Int, to: Int) = (from to to).map(i => s"n$i")

    val rdds = spark.sparkContext.getPersistentRDDs.size
    val full = byId(traverse(100))
    offsets.foreach(k =>
      assert(full(s"s$k") === (("completed", chain(k, 19))), s"offset $k"))
    // each round's checkpoint is released once the next is counted;
    // only the last one, backing the result, stays
    assert(spark.sparkContext.getPersistentRDDs.size <= rdds + 1)

    // budget 12 = one full chunk + a last chunk of 4 with no probe
    val capped = byId(traverse(12))
    assert(capped("s0") === (("max_steps", chain(0, 12))))
    Seq(15, 12).foreach(k =>
      assert(capped(s"s$k") === (("completed", chain(k, 19)))))
    assert(capped("s4") === (("max_steps", chain(4, 16))))

    // budget 6 is one lazy plan: building it starts no job. The fence
    // job runs after the build; listener events arrive in order, so
    // once its start is seen every earlier job's start has been too
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("?"))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val lazyPlan = traverse(6)
      spark.sparkContext.setJobDescription("fence")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains("fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobs.toArray.toSeq === Seq("fence"),
        "GraphRunner.run started a job while building a 6-step plan")
      assert(byId(lazyPlan)("s15") === (("completed", chain(15, 19))))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("GraphRunner: failing condition evaluations route False, not abort " +
      "(edge.py:200-204 under ANSI)") {
    import spark.implicits._
    import graft.model.Model.EdgeSpec
    import graft.operators.GraphRunner
    val edges = Seq(
      // non-boolean string condition + int() on garbage: both are
      // Python runtime errors -> False per the reference contract
      EdgeSpec("start", "a", condition = "conditional",
        conditionExpr = Some("memory.get('mode')"), priority = 2),
      EdgeSpec("start", "b", condition = "conditional",
        conditionExpr = Some("int(memory.get('mode')) > 0"), priority = 1))
    val init = Seq(("s1", "start", true, Map("mode" -> "fast")))
      .toDF("state_id", "node", "success", "memory")
    val out = GraphRunner.run(spark, edges, Set("a", "b"), init,
      nodeOutputs = Map.empty)
    // neither condition is traversable; the job must complete with the
    // session stuck rather than throw CAST_INVALID_INPUT
    assert(out.head().getAs[String]("status") === "stuck")
  }

  test("GraphRunner: an edge expression that fails to PARSE routes " +
      "False instead of killing the run (edge.py:199-204)") {
    import spark.implicits._
    import graft.model.Model.EdgeSpec
    import graft.operators.GraphRunner
    val edges = Seq(
      // syntax error at plan-build time: must compile to lit(false),
      // not throw SafeEvalException and abort all sessions
      EdgeSpec("start", "a", condition = "conditional",
        conditionExpr = Some("memory.get('x') =="), priority = 2),
      EdgeSpec("start", "b", condition = "conditional",
        conditionExpr = Some("memory.get('mode') == 'fast'"), priority = 1))
    val init = Seq(("s1", "start", true, Map("mode" -> "fast")))
      .toDF("state_id", "node", "success", "memory")
    val out = GraphRunner.run(spark, edges, Set("a", "b"), init,
      nodeOutputs = Map.empty)
    val row = out.head()
    // the malformed higher-priority edge is non-traversable; the valid
    // lower-priority edge still routes
    assert(row.getAs[String]("status") === "completed")
    assert(row.getAs[String]("node") === "b")
  }

  test("Checkpoints.latestClean honors insertion order via seq " +
      "(checkpoint.py:175-178 clean[-1] semantics)") {
    import spark.implicits._
    // same-second created_at; id lexicographic order (cp_B > cp_A)
    // disagrees with insertion order (cp_A inserted later)
    val cp = Seq(
      ("s1", "cp_B", "node_complete", "b",
        Timestamp.valueOf("2026-03-01 10:00:00"), true, 1L),
      ("s1", "cp_A", "node_complete", "a",
        Timestamp.valueOf("2026-03-01 10:00:00"), true, 2L))
      .toDF("session_id", "checkpoint_id", "checkpoint_type",
        "current_node", "created_at", "is_clean", "seq")
    val withSeq = Checkpoints.latestClean(cp).head()
    assert(withSeq.getAs[String]("checkpoint_id") === "cp_A")
    // without seq: documented fallback picks the id tie-break
    val noSeq = Checkpoints.latestClean(cp.drop("seq")).head()
    assert(noSeq.getAs[String]("checkpoint_id") === "cp_B")
  }

  test("GraphRunner: a condition over names outside the memory schema " +
      "routes False, not AnalysisException (edge.py:199-204)") {
    import spark.implicits._
    import graft.model.Model.EdgeSpec
    import graft.operators.GraphRunner
    val edges = Seq(
      // parses fine but references an unresolvable name — the
      // reference's safe_eval raises KeyError-ish and routes False
      EdgeSpec("start", "a", condition = "conditional",
        conditionExpr = Some("output.get('status') == 'ok'"), priority = 2),
      EdgeSpec("start", "b", condition = "conditional",
        conditionExpr = Some("memory.get('mode') == 'fast'"), priority = 1))
    val init = Seq(("s1", "start", true, Map("mode" -> "fast")))
      .toDF("state_id", "node", "success", "memory")
    val out = GraphRunner.run(spark, edges, Set("a", "b"), init,
      nodeOutputs = Map.empty)
    val row = out.head()
    assert(row.getAs[String]("status") === "completed")
    assert(row.getAs[String]("node") === "b")
  }

  test("GraphRunner: rewriting an existing memory key wins " +
      "(executor.py:860-865 last-write semantics)") {
    import spark.implicits._
    import graft.model.Model.EdgeSpec
    import graft.operators.GraphRunner
    val edges = Seq(EdgeSpec("start", "done", condition = "always"))
    // 'draft' key already in memory; the start node rewrites it
    val init = Seq(("s1", "start", true, Map("draft" -> "v1")))
      .toDF("state_id", "node", "success", "memory")
    val out = GraphRunner.run(spark, edges, Set("done"), init,
      nodeOutputs = Map("start" -> Map("draft" -> "v2")))
    val mem = out.head().getAs[Map[String, String]]("memory")
    assert(mem("draft") === "v2")
  }

  test("CSV pagination is contiguous across multiple files") {
    import graft.sources.CsvSource
    val dir = Files.createTempDirectory("csvmulti").toFile
    Files.writeString(new java.io.File(dir, "a.csv").toPath,
      "id\n" + (1 to 40).map(i => s"$i\n").mkString)
    Files.writeString(new java.io.File(dir, "b.csv").toPath,
      "id\n" + (41 to 80).map(i => s"$i\n").mkString)
    val page = CsvSource.read(spark, dir.getAbsolutePath,
      offset = 50, limit = Some(10), orderBy = None)
    assert(page.totalCount === 80)
    // pages past the first file must still return rows
    assert(page.rows.count() === 10)
  }

  test("L2 exit_status is the final step's; node_path is first-seen order") {
    import spark.implicits._
    import graft.operators.LogRollups
    val steps = Seq(
      // node A visited first (steps 1-2), revisited last (step 10)
      ("r1", "A", 1, "accept", 10L, 5L, 5L, "completed"),
      ("r1", "A", 2, "accept", 10L, 5L, 5L, "completed"),
      ("r1", "B", 3, "retry", 10L, 5L, 5L, "completed"),
      ("r1", "A", 10, "accept", 10L, 5L, 5L, "failed"))
      .toDF("run_id", "node_id", "step", "verdict", "latency_ms",
        "tokens_in", "tokens_out", "exit_status")
    val l2 = LogRollups.l3ToL2(steps)
    val a = l2.filter(col("node_id") === "A").head()
    assert(a.getAs[String]("exit_status") === "failed") // step 10's
    val l1 = LogRollups.l2ToL1(l2).head()
    assert(l1.getAs[Seq[String]]("node_path") === Seq("A", "B"))
  }

  test("sampleFrameIndexes drops media shorter than one frame") {
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.Row
    val rows = java.util.Arrays.asList(
      Row(1L, "video", null, null, 10L, null)) // 10ms @ 30fps → 0 frames
    val media = spark.createDataFrame(rows, Multimodal.mediaSchema)
    assert(Multimodal.sampleFrameIndexes(media, fps = 30, stride = 1)
      .count() === 0)
  }

  test("salted join ≡ plain join; two-phase agg ≡ direct agg (skew path)") {
    import spark.implicits._
    import graft.operators.Skew
    // skewed: one hot key
    val large = (1 to 500).map(i =>
      (if (i % 10 == 0) "cold" + i else "hot", i.toLong))
      .toDF("k", "v")
    val small = Seq(("hot", "H")).toDF("k", "label") // 1:1 keys
    val plain = large.join(small, Seq("k"), "left")
      .agg(count(col("label"))).head().getLong(0)
    val salted = Skew.saltedJoin(large, small, "k", 8)
      .agg(count(col("label"))).head().getLong(0)
    assert(salted === plain)

    val direct = large.groupBy("k").agg(sum("v").as("value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val twoPhase = Skew.twoPhaseAgg(large, "k", 8, col("v"), sum, sum)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(twoPhase === direct)
  }

  test("e14 approx distinct within 5% of the e21 exact twin's " +
      "materialized truth at every SF") {
    // e21 is the oracle-checked exact anchor (VERDICT r7 ask #5);
    // the sketch must track it per event_type on BOTH distinct
    // columns at each scale the driver gates.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1").foreach { dir =>
      // independent audit: rebuild the raw HLL estimates (e14 now
      // hash-gates the bound as flags and no longer emits them)
      val approx = graft.Tables.load(spark, dir, "events")
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("au"),
          approx_count_distinct(col("props"), 0.02).as("ap"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val exact = graft.queries.EventAnalytics.e21.run(spark, dir)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(approx.keySet === exact.keySet, s"grain mismatch at $dir")
      exact.foreach { case (k, (nu, np)) =>
        val (au, ap) = approx(k)
        assert(math.abs(au - nu) <= math.max(2L, (nu * 0.05).toLong),
          s"$dir $k users: approx=$au exact=$nu")
        assert(math.abs(ap - np) <= math.max(2L, (np * 0.05).toLong),
          s"$dir $k payloads: approx=$ap exact=$np")
      }
      // the hash-gated row: exact arms equal e21's truth, every
      // bound flag TRUE (VERDICT r10 ask #6)
      val e14out = graft.queries.EventAnalytics.e14.run(spark, dir)
        .collect()
      assert(e14out.map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_users"), r.getAs[Long]("n_payloads"))))
        .toMap === exact, s"e14 exact arm diverged from e21 at $dir")
      e14out.foreach { r =>
        assert(r.getAs[Boolean]("hll_users_ok") &&
          r.getAs[Boolean]("hll_payloads_ok"),
          s"$dir ${r.getAs[String]("event_type")} bound flag false")
      }
    }
  }

  test("e22 approx quantiles within the sketch's rank-error bound of " +
      "e06's exact interpolated twin at every SF") {
    // e06 is the oracle-checked exact anchor (the e14↔e21 contract on
    // the quantile axis): percentile_approx(accuracy=1000) guarantees
    // a returned VALUE whose rank error is ≤ n/1000 — assert the
    // approximate value's true rank window covers the target
    // percentile within 1% (10× the nominal bound, noise headroom).
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1").foreach { dir =>
      // independent audit: rebuild the raw sketch values (e22 now
      // hash-gates the rank window as flags and no longer emits them)
      val approx = graft.Tables.load(spark, dir, "events")
        .filter(col("value").isNotNull)
        .groupBy("event_type")
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000))
          .as("approx_median"),
          percentile_approx(col("value"), lit(0.9), lit(1000))
            .as("approx_p90"))
        .collect()
        .map(r => r.getAs[String]("event_type") ->
          ((r.getAs[Double]("approx_median"),
            r.getAs[Double]("approx_p90")))).toMap
      val vals = graft.Tables.load(spark, dir, "events")
        .filter(col("value").isNotNull)
        .select("event_type", "value").collect()
        .groupBy(_.getString(0))
        .map { case (k, rows) =>
          k -> rows.map(_.getDouble(1)).sorted }
      assert(approx.keySet === vals.keySet, s"grain mismatch at $dir")
      def rankFrac(sorted: Array[Double], v: Double): (Double, Double) = {
        val lo = sorted.count(_ < v)
        val hi = sorted.count(_ <= v)
        (lo.toDouble / sorted.length, hi.toDouble / sorted.length)
      }
      vals.foreach { case (k, sorted) =>
        val (m, p90) = approx(k)
        val (mLo, mHi) = rankFrac(sorted, m)
        assert(mLo - 0.01 <= 0.5 && 0.5 <= mHi + 0.01,
          s"$dir $k median rank [$mLo,$mHi] misses 0.5")
        val (pLo, pHi) = rankFrac(sorted, p90)
        assert(pLo - 0.01 <= 0.9 && 0.9 <= pHi + 0.01,
          s"$dir $k p90 rank [$pLo,$pHi] misses 0.9")
      }
      // the hash-gated row: exact counts, every rank-window flag
      // TRUE (VERDICT r10 ask #6)
      graft.queries.EventAnalytics.e22.run(spark, dir).collect()
        .foreach { r =>
          val k = r.getAs[String]("event_type")
          assert(r.getAs[Long]("n_values") === vals(k).length.toLong,
            s"$dir $k n_values")
          assert(r.getAs[Boolean]("median_ok") &&
            r.getAs[Boolean]("p90_ok"),
            s"$dir $k quantile rank-window flag false")
        }
    }
  }

  test("DataStore: save/append/paginated load/list (data_tools.py:24-355)") {
    import graft.sources.DataStore
    val root = Files.createTempDirectory("dstore").toString
    DataStore.save(spark, root, "notes", Seq("l0", "l1", "l2"))
    DataStore.append(spark, root, "notes", Seq("l3"))
    val (page, total) = DataStore.load(spark, root, "notes",
      offset = 1, limit = Some(2))
    assert(total === 4)
    assert(page.collect().map(_.getAs[String]("value")).toSeq
      === Seq("l1", "l2"))
    val listing = DataStore.list(spark, root).collect()
    assert(listing.map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("notes" -> 4L))
  }

  test("DataStore.edit: unique-match find-replace, zero/multi reject " +
      "(data_tools.py:313-355)") {
    import graft.sources.DataStore
    val root = Files.createTempDirectory("dedit").toString
    DataStore.save(spark, root, "report",
      Seq("<h1>TITLE</h1>", "body text", "PLACEHOLDER", "footer"))
    // missing file
    assert(DataStore.edit(spark, root, "nope", "a", "b").error.get
      .startsWith("File not found"))
    // zero matches
    assert(DataStore.edit(spark, root, "report", "absent", "x").error.get
      .contains("not found"))
    // multiple matches rejected, file untouched
    DataStore.save(spark, root, "multi", Seq("dup", "dup"))
    val multi = DataStore.edit(spark, root, "multi", "dup", "x")
    assert(!multi.success && multi.error.get.contains("2 times"))
    assert(DataStore.load(spark, root, "multi")._1.collect()
      .map(_.getAs[String]("value")).toSeq === Seq("dup", "dup"))
    // unique match replaces — including a multi-line needle
    val ok = DataStore.edit(spark, root, "report",
      "body text\nPLACEHOLDER", "body text\nfilled in")
    assert(ok.success && ok.replacements === 1)
    val after = DataStore.load(spark, root, "report")._1.collect()
      .map(_.getAs[String]("value")).toSeq
    assert(after === Seq("<h1>TITLE</h1>", "body text", "filled in",
      "footer"))
  }

  test("missing output keys + dynamic fan-out (validator.py; executor.py:1771-1818)") {
    import spark.implicits._
    val state = Seq(
      ("s1", Map("a" -> "1"), Seq("a", "b")),
      ("s2", Map("a" -> "1", "b" -> "2"), Seq("a", "b")))
      .toDF("state_id", "output", "required")
    val missing = state.select(col("state_id"),
      Routing.missingOutputKeys(col("output"), col("required")).as("m"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(missing("s1") === Seq("b") && missing("s2").isEmpty)

    val cand = Seq(
      ("s1", "a", 1, true), ("s1", "b", 2, true), ("s2", "a", 1, false),
      ("s2", "b", 1, true))
      .toDF("state_id", "target", "priority", "source_success")
    val fo = Routing.dynamicFanout(cand, col("source_success"))
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("is_fanout"))
      .toMap
    assert(fo === Map("s1" -> true, "s2" -> false))
  }

  test("visitPath keeps revisits; L2 tokens tolerate nulls (L3 grain)") {
    import spark.implicits._
    import graft.operators.LogRollups
    val steps = Seq(
      ("r1", "A", 1, "accept", 10L, Some(90000L), None: Option[Long], "completed"),
      ("r1", "A", 2, "accept", 10L, Some(100L), Some(50L), "completed"),
      ("r1", "B", 3, "accept", 10L, Some(100L), Some(50L), "completed"),
      ("r1", "A", 4, "accept", 10L, Some(100L), Some(50L), "completed"))
      .toDF("run_id", "node_id", "step", "verdict", "latency_ms",
        "tokens_in", "tokens_out", "exit_status")
    // revisit preserved (A,B,A), unlike the L2-grain node_path
    assert(LogRollups.visitPath(steps).head().getAs[Seq[String]]("node_path")
      === Seq("A", "B", "A"))
    // the null tokens_out row still contributes its tokens_in side
    val a = LogRollups.l3ToL2(steps).filter(col("node_id") === "A").head()
    assert(a.getAs[Long]("total_tokens") === 90000L + 150L + 150L)
  }

  test("goal keyword overlap ignores empty tokens (str.split parity)") {
    import spark.implicits._
    import graft.operators.GoalProgress
    val criteria = Seq(("g1", "c1", "Validate the schema ", 1.0))
      .toDF("goal_id", "criterion_id", "description", "weight")
    val decisions = Seq(("g1", "refactor the parser ", true))
      .toDF("goal_id", "intent", "success")
    // only 'the' overlaps (1 < 2) — trailing-space empties must not
    // push the overlap to the relatedness threshold
    val row = GoalProgress.criterionProgress(criteria, decisions).head()
    assert(row.getAs[Long]("n_related") === 0L)
  }

  test("sessionsView prefers the fresh row for updated sessions") {
    import graft.sources.Compaction
    val root = Files.createTempDirectory("cview").toFile
    def put(status: String, updated: String): Unit = {
      val d = new java.io.File(root,
        "session_20260301_100000_aaaa0001")
      d.mkdirs()
      Files.writeString(new java.io.File(d, "state.json").toPath,
        s"""{"schema_version":"1.1","session_id":"session_20260301_100000_aaaa0001",
           |"goal_id":"g","status":"$status",
           |"timestamps":{"started_at":"2026-03-01T10:00:00+00:00",
           |"updated_at":"$updated","completed_at":null},
           |"progress":{"steps_executed":1},"result":{}}"""
          .stripMargin.replace("\n", ""))
    }
    put("active", "2026-03-01T10:00:00+00:00")
    val out = Files.createTempDirectory("cviewout").toString + "/s"
    Compaction.compactSessions(spark, root.getAbsolutePath, out)
    // session completes AFTER compaction
    put("completed", "2026-03-01T11:00:00+00:00")
    val view = Compaction.sessionsView(spark, out,
      Some(root.getAbsolutePath))
    assert(view.count() === 1)
    assert(view.head().getAs[String]("status") === "completed")
  }

  test("analyzeFailure: failure point + external-cause branch " +
      "(query.py:171-210)") {
    import spark.implicits._
    val runs = Seq(
      ("r1", "g1", "failed", "boom"),
      ("r2", "g1", "failed", "mystery"))
      .toDF("run_id", "goal_id", "status", "error")
    val decisions = Seq(
      ("r1", "g1", 0, "node_a", true, null.asInstanceOf[String]),
      ("r1", "g1", 1, "node_b", false, "tool timeout"),
      ("r1", "g1", 2, "node_c", true, null.asInstanceOf[String]),
      // r2: failed run but every decision succeeded
      ("r2", "g1", 0, "node_a", true, null.asInstanceOf[String]))
      .toDF("run_id", "goal_id", "idx", "node_id", "success", "error")
    val a1 = BuilderQueries.analyzeFailure(runs, decisions, "r1").head()
    assert(a1.getAs[String]("failure_point_node") === "node_b")
    assert(a1.getAs[String]("root_cause") === "tool timeout")
    assert(a1.getAs[Long]("n_chain_decisions") === 2L)
    assert(!a1.getAs[Boolean]("external_cause"))
    val a2 = BuilderQueries.analyzeFailure(runs, decisions, "r2").head()
    assert(a2.getAs[String]("root_cause").contains("external cause"))
    assert(a2.getAs[Boolean]("external_cause"))
  }

  test("suggestImprovements rule table (query.py:310-364)") {
    import spark.implicits._
    val runs = (1 to 6).map(i =>
      (s"r$i", "g1", if (i <= 4) "failed" else "completed",
        if (i <= 4) "timeout" else null.asInstanceOf[String]))
      .toDF("run_id", "goal_id", "status", "error")
    val decisions = Seq(
      ("r1", "g1", "node_a", false), ("r2", "g1", "node_a", false),
      ("r3", "g1", "node_a", true), ("r4", "g1", "node_b", true))
      .toDF("run_id", "goal_id", "node_id", "success")
    val sugg = BuilderQueries.suggestImprovements(runs, decisions)
      .collect().map(r => (r.getAs[String]("type"),
        r.getAs[String]("target"), r.getAs[String]("priority")))
    // node_a fails 2/3 > 0.3 -> high; timeout x4 -> medium (<5);
    // success rate 2/6 < 0.8 -> architecture high
    assert(sugg.contains(("node_improvement", "node_a", "high")))
    assert(sugg.contains(("error_handling", "timeout", "medium")))
    assert(sugg.contains(("architecture", "g1", "high")))
  }

  test("findPatterns composed report (query.py:222-282)") {
    import spark.implicits._
    val runs = Seq(
      ("r1", "g1", "completed", null.asInstanceOf[String]),
      ("r2", "g1", "failed", "timeout"),
      ("r3", "g1", "failed", "timeout"),
      ("r4", "g1", "failed", "oom"))
      .toDF("run_id", "goal_id", "status", "error")
    val decisions = Seq(
      ("r1", "g1", "node_a", true), ("r2", "g1", "node_a", false),
      ("r3", "g1", "node_b", true), ("r4", "g1", "node_b", true))
      .toDF("run_id", "goal_id", "node_id", "success")
    val got = BuilderQueries.findPatterns(runs, decisions).head()
    assert(got.getAs[Long]("total_runs") === 4L)
    assert(got.getAs[Double]("success_rate") === 0.25)
    assert(got.getAs[Seq[String]]("top_failures") === Seq("timeout", "oom"))
    assert(got.getAs[Seq[String]]("problematic_nodes") === Seq("node_a"))
  }

  test("CLI dispatch: csv-sql + sessions + unknown command") {
    val dir = Files.createTempDirectory("cli").toFile
    val f = new java.io.File(dir, "t.csv")
    Files.writeString(f.toPath, "x,y\n1,a\n2,b\n")
    Cli.run(spark, List("csv-sql", f.getAbsolutePath,
      "SELECT COUNT(*) AS n FROM data"))
    intercept[IllegalArgumentException](Cli.run(spark, List("nope")))
    // registered-query surface: listing + by-name dispatch + the
    // unknown-name diagnostic
    Cli.run(spark, List("queries"))
    Cli.run(spark,
      List("run-query", "/root/testdata/sf0.001", "q01_pricing_summary"))
    intercept[IllegalArgumentException](
      Cli.run(spark, List("run-query", "/root/testdata/sf0.001", "zz99")))
  }

  test("waitFor polls history until match or timeout (event_bus.py:1062-1115)") {
    import spark.implicits._
    val hist = Seq(
      AgentEvent("node_started", "s1", None, None, new Timestamp(1000L),
        Map.empty)).toDS().toDF()
    val hit = EventStream.waitFor(() => hist,
      Subscription(eventTypes = Set("node_started")), timeoutMs = 2000)
    assert(hit.exists(_.eventType === "node_started"))
    val miss = EventStream.waitFor(() => hist,
      Subscription(eventTypes = Set("never")), timeoutMs = 300)
    assert(miss.isEmpty)
  }
}
