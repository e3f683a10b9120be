package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the single session path from eroding one query at a time: one
  * session builder, no per-query installs in the query catalogue, and one
  * memory-sink stream runner in the library.
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
}
