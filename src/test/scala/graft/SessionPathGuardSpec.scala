package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the single session path from eroding one query at a time: one
  * session builder, one install path for planner strategies, no
  * per-query installs in the query catalogue, one stream drain helper in
  * the library, one recursion drain loop, one SQL statement pipeline
  * (and one clause chain) behind every SQL surface, one parse of window
  * calls and WINDOW clauses under the window passes, one profiler, no
  * environment switches below the entry-point mains, and one binder of a
  * statement's own names, which leaves the session catalog to the user.
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
  // two adjacent passes of the clause chain, nested or listed, in
  // either order: the mark of a copy of the chain
  private val Chain = {
    val (a, b) = ("stripTrailing" + "Commas", "rewriteSeries" + "Tvf")
    s"$a\\W+(?:Dialect\\W+)?$b|$b\\W+(?:Dialect\\W+)?$a".r
  }

  test("sessions are built only in GraftSession.scala") {
    val offenders = sources("src").collect {
      case (p, text) if text.contains(Builder) && p.getFileName.toString != "GraftSession.scala" => p
    }
    assert(offenders.isEmpty, s"build sessions through GraftSession.builder: $offenders")
  }

  test("planner strategies are installed only in Registry.scala") {
    val assign = ("extra" + "Strategies") + "\\s*=(?!=)"
    val offenders = sources("src").collect {
      case (p, text) if assign.r.findFirstIn(text).isDefined && p.getFileName.toString != "Registry.scala" => p
    }
    assert(offenders.isEmpty, s"install planner strategies through Registry.registerAll: $offenders")
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

  test("streams run to completion only through Replay.drain") {
    val offenders = sources("src/main").collect {
      case (p, text) if text.contains("AvailableNow" + "()") && p.getFileName.toString != "Replay.scala" => p
    }
    assert(offenders.isEmpty, s"start AvailableNow writers with graft.streaming.Replay.drain: $offenders")
  }

  test("recursive CTEs drain in one loop, in RecursiveUnion.scala") {
    // the EXCEPT of a step's rows against the closure marks a drain loop
    val except = ("(?<!def )exceptDistinct" + "Via\\(").r
    val calls = sources("src/main").flatMap { case (p, text) =>
      except.findAllMatchIn(text).map(_ => p.getFileName.toString)
    }
    assert(calls == Seq("RecursiveUnion.scala"), s"one drain loop, in RecursiveUnion.scala: $calls")
    val inApi = sources("src/main/scala/graft/api").collect {
      case (p, text) if ("def " + "drain").r.findFirstIn(text).isDefined ||
          text.contains("RecursiveUnion" + ".Rec") => p
    }
    assert(inApi.isEmpty, s"recursion runs in graft.sql.RecursiveUnion.run: $inApi")
  }

  test("the dialect pass chain is written once") {
    val copies = sources("src").map { case (_, text) => Chain.findAllMatchIn(text).size }.sum
    assert(copies == 1, s"the clause chain appears $copies times in src; lower statements through Dialect.lowerClauses")
    val table = Files.readString(Paths.get("src/main/scala/graft/api/Table.scala"))
    val parallel = Seq("prep", "sqlOne", "qualifiedSql").filter(n => s"def $n\\b".r.findFirstIn(table).isDefined)
    assert(parallel.isEmpty, s"Table.scala defines a second statement pipeline: $parallel")
  }

  test("listeners are registered only in Trace.scala") {
    val needles = Seq("addSpark" + "Listener", "listenerManager" + ".register")
    val offenders = sources("src").collect {
      case (p, text) if needles.exists(text.contains) && p.getFileName.toString != "Trace.scala" => p
    }
    assert(offenders.isEmpty, s"count jobs, stages, tasks and batches through graft.Trace: $offenders")
  }

  test("only the entry-point mains read the environment in src/main") {
    val offenders = sources("src/main").collect {
      case (p, text) if Seq("sys" + ".env", "System" + ".getenv").exists(text.contains) &&
          !Set("Bench.scala", "Verify.scala").contains(p.getFileName.toString) => p
    }
    assert(offenders.isEmpty, s"sessions, rules and libraries take no environment switches: $offenders")
  }

  test("window calls and WINDOW clauses are parsed once in Dialect.scala") {
    val dialect = Files.readString(Paths.get("src/main/scala/graft/sql/Dialect.scala"))
    val removed = "inlineExclude" + "NamedWindows"
    assert(!sources("src").exists(_._2.contains(s"def $removed")),
      s"$removed is folded into the one named-window inliner, inlineChainedWindows")
    // members at the object's indentation, each with its body
    val members = "(?m)^  (?:private(?:\\[\\w+\\])? )?def (\\w+)".r.findAllMatchIn(dialect).toSeq
    val bodies = members.zip(members.drop(1).map(_.start) :+ dialect.length)
      .map { case (m, end) => m.group(1) -> dialect.substring(m.start, end) }
    // a match of the WINDOW keyword is the start of a WINDOW-clause parse
    val keyword = "(?:wordAt|findAnyDepthKeyword|findTopLevelKeyword(?:In)?)\\([^()\\n]*\"window\"\\)".r
    val parsers = bodies.collect { case (name, body) if keyword.findFirstIn(body).isDefined => name }
    assert(parsers.size <= 1, s"more than one def parses the WINDOW clause: $parsers")
  }

  test("a statement's own names bind in its plan, not in the session catalog") {
    val lock = sources("src/main").collect { case (p, text) if text.contains("bindLock") => p }
    assert(lock.isEmpty, s"no lock guards the catalog; bind names with GraftColumnBridge.sqlWith: $lock")
    assert(!sources("src/main").exists(_._2.contains("def replaceIdent")),
      "CTE references resolve in Spark's analyzer, not by renaming the text")
    // the user-catalog operations: DDL, IMPORT, and a script's re-binds
    // and transactions in Table.sessionSql
    val writes = "createOrReplaceTempView|dropTempView".r
    val offenders = Seq("src/main/scala/graft/api", "src/main/scala/graft/sql").flatMap(sources).collect {
      case (p, text) if !Set("DdlSql.scala", "ExportSql.scala", "Table.scala")(p.getFileName.toString) &&
          writes.findFirstIn(text).isDefined => p.toString
      case (p, text) if p.getFileName.toString == "Table.scala" && {
          val script = text.indexOf("Dialect.splitStatements(query) match")
          val end = text.indexOf("return out", script)
          writes.findAllMatchIn(text).exists(m => script < 0 || m.start < script || m.start > end)
        } => s"$p outside sessionSql's script and transaction code"
    }
    assert(offenders.isEmpty, s"bind a statement's names with GraftColumnBridge.sqlWith: $offenders")
  }
}
