package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** API.md's query registry is a map of where each query is defined:
  * every registered query has a row whose `file:line` anchor (or the
  * line after it, for a `val … = Q(` whose name sits on the next line)
  * holds the quoted query name. No Spark session needed. */
class ApiAnchorSpec extends AnyFunSuite {
  private val Row = """\| `([^`]+)` \| `([^`:]+):(\d+)` \|.*""".r

  test("every registry query has an API.md row anchored at its definition") {
    val anchors = Files.readAllLines(Paths.get("API.md")).asScala
      .collect { case Row(name, file, line) => name -> (file, line.toInt) }
      .toMap
    val sources = anchors.values.map(_._1).toSet.map((f: String) =>
      f -> Files.readAllLines(Paths.get(f)).asScala.toIndexedSeq).toMap
    val bad = SparkEntry.registry.map(_.name).flatMap { name =>
      anchors.get(name) match {
        case None => Some(s"$name: no API.md row")
        case Some((file, line)) =>
          val near = sources(file).slice(line - 1, line + 1)
          if (near.exists(_.contains("\"" + name + "\""))) None
          else Some(s"$name: $file:$line")
      }
    }
    assert(bad.isEmpty, s"API.md anchors off: ${bad.mkString(", ")}")
  }
}
