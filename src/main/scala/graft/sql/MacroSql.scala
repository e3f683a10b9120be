package graft.sql

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import Dialect.{identAt, matchParenAt, skipWsAt, splitTopLevel,
  splitTopLevelAll, stripLiterals, wordAt}

/** `CREATE [OR REPLACE] MACRO|FUNCTION name(params) AS [TABLE] body`
  * and `DROP MACRO|FUNCTION [IF EXISTS] name` (u23 — DuckDB's SQL
  * macros; `vinum` has no statement surface at all, this extends the
  * DuckDB-capability north star). A macro is session-scoped TEXT: the
  * definition is stored verbatim and every later statement expands
  * macro calls before the dialect passes run, so the body composes
  * with the whole statement surface (subscripts, comprehensions,
  * window sugar, DML sources) and late-binds like DuckDB's (a macro
  * referencing another macro resolves at CALL time).
  *
  * Parameter rules probed against DuckDB 1.x:
  *  - positional arguments fill the NON-DEFAULT parameters exactly
  *    (`m(a, b := 10)` called as `m(1, 2)` is a Binder error — two
  *    positionals for one positional parameter);
  *  - defaulted parameters are set by NAME (`m(1, b := 4)`) or take
  *    their default.
  * Expansion substitutes each parameter's argument text, wrapped in
  * parens, at word-boundary occurrences in the body (qualified `x.p`
  * and quoted occurrences stay), then wraps the whole body in parens —
  * for a scalar macro that is exactly inline-expression semantics; a
  * TABLE macro becomes a parenthesized derived table in FROM position.
  * A macro whose expansion never terminates (self-recursion) refuses
  * loudly at the depth guard.
  */
object MacroSql {

  final case class Param(name: String, default: Option[String])
  final case class Macro(name: String, params: Seq[Param], body: String,
                         isTable: Boolean)
  final case class Create(m: Macro, orReplace: Boolean)

  // session-scoped macro registries (weak keys — a dropped session
  // takes its macros with it)
  private val registries =
    new java.util.WeakHashMap[SparkSession, TrieMap[String, Macro]]()

  private def reg(spark: SparkSession): TrieMap[String, Macro] =
    registries.synchronized {
      var m = registries.get(spark)
      if (m == null) { m = TrieMap.empty[String, Macro]; registries.put(spark, m) }
      m
    }

  /** Registered macros for a session (tests / diagnostics). */
  def list(spark: SparkSession): Seq[String] =
    reg(spark).keys.toSeq.sorted

  // ---------------------------------------------------------- parsing

  /** `CREATE [OR REPLACE] MACRO|FUNCTION name(p[, …]) AS [TABLE] body`;
    * None when the text is any other statement. Loud on malformed
    * parameter lists once the MACRO keyword establishes ownership.
    */
  def parseCreate(sql: String): Option[Create] = {
    val m = stripLiterals(sql)
    var i = skipWsAt(m, 0)
    if (!wordAt(m, i, "create")) return None
    i = skipWsAt(m, i + 6)
    var orReplace = false
    if (wordAt(m, i, "or")) {
      val j = skipWsAt(m, i + 2)
      if (!wordAt(m, j, "replace")) return None
      orReplace = true
      i = skipWsAt(m, j + 7)
    }
    val kw =
      if (wordAt(m, i, "macro")) 5
      else if (wordAt(m, i, "function")) 8
      else return None
    i = skipWsAt(m, i + kw)
    val (name, afterName) = identAt(m, sql, i).getOrElse(
      throw new IllegalArgumentException(
        "CREATE MACRO needs a bare macro name"))
    i = skipWsAt(m, afterName)
    require(i < m.length && m.charAt(i) == '(',
      s"CREATE MACRO $name needs a parenthesized parameter list " +
        "(use () for none)")
    val close = matchParenAt(m, i)
    val paramText = sql.substring(i + 1, close)
    val params =
      if (paramText.trim.isEmpty) Nil
      else splitTopLevelAll(paramText).map { p =>
        val pm = stripLiterals(p)
        val asg = pm.indexOf(":=")
        if (asg < 0) {
          val t = p.trim
          require(t.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"macro parameter must be a bare identifier, got: $t")
          Param(t, None)
        } else {
          val n = p.substring(0, asg).trim
          val d = p.substring(asg + 2).trim
          require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"macro parameter must be a bare identifier, got: $n")
          require(d.nonEmpty, s"empty default for macro parameter $n")
          Param(n, Some(d))
        }
      }
    require(params.map(_.name.toLowerCase).distinct.size == params.size,
      s"duplicate parameter names in CREATE MACRO $name")
    // defaults must trail positionals (the DuckDB binder's shape)
    val firstDefault = params.indexWhere(_.default.isDefined)
    require(firstDefault < 0 ||
      params.drop(firstDefault).forall(_.default.isDefined),
      s"macro $name: parameters with defaults must come after all " +
        "positional parameters")
    i = skipWsAt(m, close + 1)
    require(wordAt(m, i, "as"),
      s"CREATE MACRO $name needs AS before the body")
    i = skipWsAt(m, i + 2)
    val isTable = wordAt(m, i, "table")
    if (isTable) i = skipWsAt(m, i + 5)
    val body = sql.substring(i).trim
    require(body.nonEmpty, s"CREATE MACRO $name has an empty body")
    Some(Create(Macro(name, params, body, isTable), orReplace))
  }

  /** `DROP MACRO|FUNCTION [IF EXISTS] name` → Some((name, ifExists)). */
  def parseDrop(sql: String): Option[(String, Boolean)] = {
    val m = stripLiterals(sql)
    var i = skipWsAt(m, 0)
    if (!wordAt(m, i, "drop")) return None
    i = skipWsAt(m, i + 4)
    val kw =
      if (wordAt(m, i, "macro")) 5
      else if (wordAt(m, i, "function")) 8
      else return None
    i = skipWsAt(m, i + kw)
    var ifExists = false
    if (wordAt(m, i, "if")) {
      val j = skipWsAt(m, i + 2)
      if (!wordAt(m, j, "exists")) return None
      ifExists = true
      i = skipWsAt(m, j + 6)
    }
    val (name, after) = identAt(m, sql, i).getOrElse(return None)
    if (skipWsAt(m, after) < m.length) return None // trailing text
    Some((name, ifExists))
  }

  // -------------------------------------------------------- execution

  def runCreate(spark: SparkSession, c: Create): DataFrame = {
    val r = reg(spark)
    val key = c.m.name.toLowerCase
    require(c.orReplace || !r.contains(key),
      s"macro ${c.m.name} already exists — use CREATE OR REPLACE MACRO")
    r.put(key, c.m)
    spark.sql(s"SELECT 'create macro' AS statement, '${c.m.name}' AS name")
  }

  def runDrop(spark: SparkSession, name: String,
              ifExists: Boolean): DataFrame = {
    val removed = reg(spark).remove(name.toLowerCase).isDefined
    require(removed || ifExists,
      s"macro $name does not exist — DROP MACRO IF EXISTS to ignore")
    spark.sql(s"SELECT 'drop macro' AS statement, '$name' AS name")
  }

  // -------------------------------------------------------- expansion

  /** Word-boundary substitution of `param` with `arg` in `body`
    * (mask-aware; qualified `x.param` and quoted occurrences stay).
    */
  private def substParam(body: String, param: String, arg: String): String = {
    val sb = new StringBuilder
    val m = stripLiterals(body)
    var i = 0
    while (i < m.length) {
      val boundary = i == 0 || {
        val pc = m.charAt(i - 1)
        !(pc.isLetterOrDigit || pc == '_' || pc == '.')
      }
      if (boundary && wordAt(m, i, param.toLowerCase)) {
        sb.append('(').append(arg).append(')')
        i += param.length
      } else {
        sb.append(body.charAt(i))
        i += 1
      }
    }
    sb.toString
  }

  /** Expand every registered-macro call in `sql`; text without macro
    * calls returns eq-identical. Nested/chained macros re-expand up to
    * the depth guard (self-recursion refuses loudly there).
    */
  def expand(spark: SparkSession, sql: String): String = {
    val r = reg(spark)
    if (r.isEmpty) return sql
    // CTE names SHADOW macros inside their statement (DuckDB's scoping
    // — and the head `name(cols) AS (…)` is a DEFINITION, not a call;
    // expanding it corrupts the statement, caught by gr10 + u16 when a
    // session macro shared a CTE's name)
    val shadowed: Set[String] =
      RecursiveUnion.tokenizeWith(sql) match {
        case Some((_, ctes, _)) => ctes.map(_.name.toLowerCase).toSet
        case None => Set.empty
      }
    var cur = sql
    // counts EXPANSIONS, not scans: a statement may legitimately call
    // many distinct macros; only a cycle reaches the cap
    var guard = 0
    var more = true
    while (more && guard < 512) {
      more = false
      val m = stripLiterals(cur)
      var i = 0
      while (!more && i < m.length) {
        val c = m.charAt(i)
        if (c.isLetter || c == '_') {
          var e = i
          while (e < m.length && (m.charAt(e).isLetterOrDigit ||
            m.charAt(e) == '_')) e += 1
          val word = cur.substring(i, e).toLowerCase
          val qualified = i > 0 && m.charAt(i - 1) == '.'
          // `INTO name(cols)` is a column list on a TABLE target, not
          // a call — INSERT INTO must never expand its target
          val prevWordIsInto = {
            var p = i - 1
            while (p >= 0 && m.charAt(p).isWhitespace) p -= 1
            p >= 3 && wordAt(m, p - 3, "into")
          }
          val callOpen = skipWsAt(m, e)
          r.get(word) match {
            case Some(mac) if !qualified && !prevWordIsInto &&
              !shadowed(word) && callOpen < m.length &&
              m.charAt(callOpen) == '(' =>
              val close = matchParenAt(m, callOpen)
              val argText = cur.substring(callOpen + 1, close)
              val rawArgs =
                if (argText.trim.isEmpty) Nil else splitTopLevelAll(argText)
              // named (p := v) vs positional split
              val (named, positional) = rawArgs.partition { a =>
                val am = stripLiterals(a)
                val asg = am.indexOf(":=")
                asg > 0 && a.substring(0, asg).trim
                  .matches("[A-Za-z_][A-Za-z0-9_]*")
              }
              val posParams = mac.params.filter(_.default.isEmpty)
              require(positional.size == posParams.size,
                s"macro ${mac.name} takes ${posParams.size} positional " +
                  s"argument(s), got ${positional.size}")
              val binds = scala.collection.mutable.LinkedHashMap.empty[
                String, String]
              posParams.zip(positional).foreach { case (p, a) =>
                binds(p.name.toLowerCase) = a.trim
              }
              named.foreach { a =>
                val am = stripLiterals(a)
                val asg = am.indexOf(":=")
                val n = a.substring(0, asg).trim
                val v = a.substring(asg + 2).trim
                val p = mac.params.find(_.name.equalsIgnoreCase(n))
                  .getOrElse(throw new IllegalArgumentException(
                    s"macro ${mac.name} has no parameter $n"))
                require(p.default.isDefined,
                  s"macro ${mac.name}: parameter $n is positional — " +
                    "pass it positionally")
                require(!binds.contains(p.name.toLowerCase),
                  s"macro ${mac.name}: parameter $n bound twice")
                binds(p.name.toLowerCase) = v
              }
              mac.params.filter(_.default.isDefined).foreach { p =>
                if (!binds.contains(p.name.toLowerCase))
                  binds(p.name.toLowerCase) = p.default.get
              }
              var expanded = mac.body
              binds.foreach { case (p, a) =>
                expanded = substParam(expanded, p, a)
              }
              cur = cur.substring(0, i) + s"($expanded)" +
                cur.substring(close + 1)
              more = true
            case _ => i = e
          }
        } else i += 1
      }
      guard += 1
    }
    require(!more,
      "macro expansion did not terminate in 512 rounds — a macro " +
        "calls itself (directly or through a cycle); macros are " +
        "inline text, not recursion")
    cur
  }
}
