package graft

import graft.plans.{GraftExtensions, SqlGate}
import graft.sources.{Catalog, Compaction, SessionSource}
import org.apache.spark.sql.SparkSession

/** Thin spark-submit-able CLI (SURVEY §7.1 module 7) exposing the
  * library surfaces the reference exposes as MCP tools:
  *
  * {{{
  * csv-sql <csv> <query>             csv_sql: SELECT over view `data`
  * table-sql <sfDir> <query>         SELECT over the registered tables
  * sessions <root> [status] [limit]  session-store list scan
  * compact-sessions <root> <outDir>  small-files → partitioned parquet
  * catalog [table]                   list tables / describe one
  * explain <sfDir> <query>           formatted physical plan
  * queries                           list the registered query names
  * run-query <sfDir> <name> [limit]  run a registered query by name
  * }}}
  */
object Cli {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      Map("spark.master" -> sys.env.getOrElse("SPARK_MASTER", "local[4]"),
        "spark.sql.extensions" -> classOf[GraftExtensions].getName))
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList)
    finally spark.stop()
  }

  private[graft] val usage: String =
    """usage: Cli <csv-sql|table-sql|sessions|compact-sessions|catalog|explain|queries|run-query> args...
      |  csv-sql <csv> <query>
      |  table-sql <sfDir> <query>
      |  sessions <root> [status] [limit]
      |  compact-sessions <root> <outDir>
      |  catalog [table]
      |  explain <sfDir> <query>
      |  queries
      |  run-query <sfDir> <name> [limit]""".stripMargin

  private[graft] def run(spark: SparkSession, args: List[String]): Unit =
    args match {
      case "csv-sql" :: path :: query :: Nil =>
        SqlGate.csvSql(spark, path, query).show(100, truncate = false)
      case "table-sql" :: dir :: query :: Nil =>
        Tables.registerAll(spark, dir)
        SqlGate.query(spark, query).show(100, truncate = false)
      case "sessions" :: root :: rest =>
        val status = rest.headOption.filter(_ != "all")
        val limit = rest.drop(1).headOption.map(_.toInt).getOrElse(100)
        SessionSource.scan(SessionSource.load(spark, root), status, limit)
          .select("session_id", "status", "duration_ms", "is_resumable")
          .show(limit, truncate = false)
      case "compact-sessions" :: root :: out :: Nil =>
        val n = Compaction.compactSessions(spark, root, out)
        println(s"compacted $n sessions -> $out")
      case "catalog" :: Nil =>
        Catalog.listTables(spark).show(truncate = false)
      case "catalog" :: table :: Nil =>
        Catalog.describeTable(spark, table).show(truncate = false)
      case "explain" :: dir :: query :: Nil =>
        Tables.registerAll(spark, dir)
        Catalog.explainSql(spark, query).collect()
          .foreach(r => println(r.getString(0)))
      case "queries" :: Nil =>
        SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      case "run-query" :: dir :: name :: rest if rest.size <= 1 =>
        val limit = rest.headOption.map(l => l.toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"limit must be an integer, got '$l'\n$usage"))).getOrElse(100)
        val fn = SparkEntry.queries.getOrElse(name,
          throw new IllegalArgumentException(
            s"unknown query '$name' — list with the 'queries' command"))
        fn(spark, dir).show(limit, truncate = false)
      case other =>
        throw new IllegalArgumentException(
          s"unknown command: ${other.mkString(" ")}\n$usage")
    }
}
