package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one JVM, forked by sbt), built by
  * `Sessions.local` so the specs run the engine config that is benched
  * and verified. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  lazy implicit val implicitSpark: SparkSession = spark
}

object SparkTestBase {
  lazy val session: SparkSession = Sessions.local("2")
}
