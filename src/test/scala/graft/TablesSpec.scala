package graft

import java.lang.ref.WeakReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** `Tables.load` resolves each table once per session, and its cache
  * is bounded by the sessions still in use: a released session, and the
  * relations it loaded, can be collected. */
class TablesSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"

  private def relation(s: SparkSession, name: String): LogicalRelation =
    Tables.load(s, dir, name).queryExecution.analyzed
      .collectFirst { case r: LogicalRelation => r }
      .getOrElse(fail(s"$name has no file relation"))

  test("a session's loads of one table share one resolved relation; " +
      "another session resolves its own") {
    val s = spark.newSession()
    assert(relation(s, "documents") eq relation(s, "documents"))
    assert(relation(s, "events") eq relation(s, "events"))
    assert(!(relation(s, "documents") eq relation(spark, "documents")))
  }

  /** Loads every table in a new session and returns weak references
    * to the session and to one of its relations, keeping no strong
    * one. */
  private def loadInReleasedSession(): (WeakReference[SparkSession],
      WeakReference[LogicalRelation]) = {
    val s = spark.newSession()
    Tables.names.foreach(Tables.load(s, dir, _))
    (new WeakReference(s), new WeakReference(relation(s, "documents")))
  }

  test("a released session's relations go with it") {
    val (session, rel) = loadInReleasedSession()
    var tries = 0
    while ((session.get != null || rel.get != null) && tries < 50) {
      System.gc()
      Thread.sleep(20)
      tries += 1
    }
    assert(rel.get == null, "the released session's relation is still " +
      "reachable — a JVM-wide cache is holding it")
    assert(session.get == null, "the released session is still reachable")
  }
}
