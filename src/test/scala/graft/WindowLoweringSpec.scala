package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Try

import graft.sql.Dialect
import org.scalatest.funsuite.AnyFunSuite

/** The window passes lower each recorded statement to its recorded
  * text, byte for byte, so no plan moves under a refactor of them.
  * `window-lowering.sql` holds the statements and the clause chain's
  * output from before the passes shared one window-call finder.
  */
class WindowLoweringSpec extends AnyFunSuite {

  /** (name, statement, lowered text or `!error`) */
  private lazy val records: Seq[(String, String, String)] = {
    val in = getClass.getResourceAsStream("/graft/window-lowering.sql")
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    text.split("(?m)^-- @name ", -1).toSeq.drop(1).map { rec =>
      val name = rec.substring(0, rec.indexOf('\n'))
      val Array(sql, lowered) =
        rec.substring(name.length + 1).split("(?m)^-- @lowered\n", 2)
      (name, sql.stripSuffix("\n"), lowered.stripSuffix("\n"))
    }
  }

  private def lower(sql: String): String =
    Try(Dialect.lowerClauses(sql)).getOrElse("!error")

  // recorded as a refusal: the named-window inliner now finds a derived
  // table's own WINDOW clause
  private val NowLowers = "wc_subquery_named_exclude"

  test("every recorded statement lowers to its recorded text") {
    assert(records.size == 84)
    val drift = records.collect {
      case (name, sql, lowered) if name != NowLowers && lower(sql) != lowered =>
        s"$name:\n${lower(sql)}"
    }
    assert(drift.isEmpty, drift.mkString("\n\n"))
  }

  test("a derived table's named EXCLUDE window lowers as its inline spec does") {
    val byName = records.map(r => r._1 -> r).toMap
    val (_, named, recorded) = byName(NowLowers)
    assert(recorded == "!error")
    def norm(s: String) = s.replaceAll("\\s+", " ")
    assert(norm(lower(named)) ==
      norm(byName("wc_subquery_inline_exclude")._3))
  }
}
