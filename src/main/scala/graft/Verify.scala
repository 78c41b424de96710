package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — local fast path
    // for iterating on one operator (the driver always passes two)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8") // parity with Bench
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val target = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(target.toString)
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failure must not leave a PREVIOUS run's parquet behind —
        // stale output would hash-match and mask the regression as a
        // pass; a missing dir makes the compare report the failure
        try target.getFileSystem(hadoopConf).delete(target, true)
        catch { case NonFatal(_) => () }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${Sessions.jsonEscape(k)}: ${Sessions.jsonEscape(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
