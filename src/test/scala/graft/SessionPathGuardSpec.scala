package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the single session path from eroding one query at a time: one
  * session builder, no per-query installs in the query catalogue, one
  * memory-sink stream runner in the library, and one SQL statement
  * pipeline behind every SQL surface.
  */
class SessionPathGuardSpec extends AnyFunSuite {

  /** Every Scala file under `root`, with its text. */
  private def sources(root: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> Files.readString(p))
    finally walk.close()
  }

  // the needles are split so this file does not match itself
  private val Builder = "SparkSession" + ".builder()"
  private val Install = "Registry" + ".registerAll("
  private val Chain = "Dialect" + ".rewriteSeriesTvf("

  test("sessions are built only in GraftSession.scala") {
    val offenders = sources("src").collect {
      case (p, text) if text.contains(Builder) && p.getFileName.toString != "GraftSession.scala" => p
    }
    assert(offenders.isEmpty, s"build sessions through GraftSession.builder: $offenders")
  }

  test("the query catalogue installs nothing per query") {
    val entry = Files.readString(Paths.get("src/main/scala/graft/SparkEntry.scala"))
    assert(!entry.contains(Install),
      "SparkEntry queries run on installed sessions; child sessions come from GraftSession.streamSession")
  }

  test("library stream runs to a memory sink go through Replay.runToCompletion") {
    val offenders = sources("src/main").collect {
      case (p, text) if text.contains("format(\"memory\")") && text.contains("AvailableNow") &&
          p.getFileName.toString != "Replay.scala" => p
    }
    assert(offenders.isEmpty, s"use graft.streaming.Replay.runToCompletion: $offenders")
  }

  test("the dialect pass chain is written once") {
    val calls = sources("src/main").map { case (_, text) =>
      text.split(java.util.regex.Pattern.quote(Chain), -1).length - 1
    }.sum
    assert(calls == 1, s"$Chain appears $calls times in src/main; lower statements through Table.lowerStatement")
    val table = Files.readString(Paths.get("src/main/scala/graft/api/Table.scala"))
    val parallel = Seq("prep", "sqlOne", "qualifiedSql").filter(n => s"def $n\\b".r.findFirstIn(table).isDefined)
    assert(parallel.isEmpty, s"Table.scala defines a second statement pipeline: $parallel")
  }
}
