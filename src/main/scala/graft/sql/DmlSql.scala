package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DML statement forms (u10/u12/u13/u14): `INSERT INTO`,
  * `UPDATE … SET … [FROM …] [WHERE]`, `DELETE FROM … [USING …] [WHERE]`
  * — the simpler siblings of MERGE INTO (u09), sharing its convention:
  * this engine's tables are immutable frames, so each statement RETURNS
  * the post-statement table instead of mutating in place ([[MergeSql]]
  * doc, the q59/q60 statement-form rule). Callers chain statements by
  * re-registering the returned frame.
  *
  *   INSERT INTO t [(cols)] VALUES (…), (…) | <select statement>
  *     [ON CONFLICT (keys) DO NOTHING
  *      | DO UPDATE SET c = e, … [WHERE cond]]            (u12/u14)
  *   UPDATE t [AS a] SET c = e, … [FROM s [AS b]] [WHERE pred]  (u13)
  *   DELETE FROM t [AS a] [USING s [AS b]] [WHERE pred]         (u13)
  *   <any of the above> RETURNING item, …                       (u15)
  *
  * Semantics (SQL standard / Postgres, probed against DuckDB):
  *   - INSERT with a column list fills unnamed target columns with
  *     NULL; without one the source is positional over the full target
  *     schema. Inserted expressions cast into the target column types.
  *   - UPDATE evaluates every SET expression against the OLD row (the
  *     standard's simultaneous-assignment rule — a CASE projection over
  *     the input columns gives exactly that); rows where the predicate
  *     is false or NULL keep their values.
  *   - UPDATE … FROM (the correlated form): WHERE is the JOIN predicate
  *     between target and source; target rows with a match update (SET
  *     expressions may reference both aliases), rows without one keep
  *     their values. A target row matching SEVERAL source rows is
  *     REFUSED loudly (Postgres picks one arbitrarily, DuckDB likewise
  *     — a nondeterministic answer is a wrong answer here; the MERGE
  *     one-source-row contract).
  *   - DELETE removes rows where the predicate is TRUE; false or NULL
  *     keep the row. No WHERE removes every row (valid SQL — loudness
  *     would be wrong here). DELETE … USING removes target rows with
  *     at least one predicate-matching source row (multi-match is fine
  *     — any match deletes).
  *
  * Scale shape: INSERT is one union (no shuffle), UPDATE a map-side
  * CASE projection, DELETE a map-side filter — all three stay inside
  * whole-stage codegen with no exchange of their own. The correlated
  * forms add exactly one join: UPDATE…FROM a left join (+ the
  * multi-match guard — one source-side aggregate for a pure equi
  * predicate, else one count over the join materialized ONCE via
  * localCheckpoint), DELETE…USING one anti-join.
  */
object DmlSql {

  sealed trait Stmt
  /** `name` (bare identifier) or a parenthesized subquery text, plus
    * its alias — the correlated source of UPDATE…FROM / DELETE…USING.
    */
  final case class Source(ref: String, alias: String)
  /** `ON CONFLICT (keys) DO NOTHING | DO UPDATE SET … [WHERE cond]`
    * (u12/u14). The conflict target is a REQUIRED explicit column list —
    * this engine's frames carry no primary-key metadata to default to.
    * `action` None = DO NOTHING; Some(sets) = DO UPDATE, whose
    * right-hand sides may reference target columns bare and the
    * incoming row as `excluded.col` (the Postgres/DuckDB spelling —
    * exposed to the plan as a genuine struct column, so resolution is
    * the analyzer's, not text surgery). `updWhere` is DO UPDATE's
    * conditional arm (u14): a conflicting row updates only when the
    * condition is TRUE (bare = target column, `excluded.` = incoming);
    * FALSE or NULL keeps the target row unchanged — and still blocks
    * the insert (the row conflicted), DuckDB's probed rule.
    */
  final case class Conflict(keys: Seq[String],
                            action: Option[Seq[(String, String)]],
                            updWhere: Option[String] = None)
  final case class Insert(targetRef: String, cols: Option[Seq[String]],
                          values: Option[String], source: Option[String],
                          conflict: Option[Conflict] = None,
                          byName: Boolean = false)
    extends Stmt
  /** `TRUNCATE [TABLE] t` (u17) — all rows removed; DELETE without
    * WHERE, as a first-class statement.
    */
  final case class Truncate(targetRef: String) extends Stmt
  final case class Update(targetRef: String, alias: String,
                          sets: Seq[(String, String)], where: Option[String],
                          from: Option[Source] = None)
    extends Stmt
  final case class Delete(targetRef: String, alias: String,
                          where: Option[String],
                          using: Option[Source] = None) extends Stmt
  /** `… RETURNING item, …` (u15, Postgres/DuckDB): the statement
    * returns the AFFECTED rows — inserted rows, the post-image of
    * updated rows, deleted rows — projected through the item list,
    * instead of the post-statement table. Items evaluate over the
    * target schema (`*` = all target columns).
    */
  final case class Returning(inner: Stmt, items: Seq[String]) extends Stmt

  import Dialect.{findTopLevelKeywordIn, splitTopLevel, stripLiterals, wordAt}
  import Dialect.{matchParenAt => matchParen, skipWsAt => skipWs}

  /** First-word dispatch (masked scan): None unless the statement is
    * INSERT INTO / UPDATE / DELETE FROM. Malformed DML fails loudly
    * from here rather than falling through to Spark's parser.
    */
  def parse(sql: String): Option[Stmt] = {
    val m = stripLiterals(sql)
    val i = skipWs(m, 0)
    if (wordAt(m, i, "truncate")) {
      var j = skipWs(m, i + 8)
      if (wordAt(m, j, "table")) j = skipWs(m, j + 5)
      val (name, _) = parseTargetRef(sql.substring(j), "TRUNCATE")
      return Some(Truncate(name))
    }
    if (!wordAt(m, i, "insert") && !wordAt(m, i, "update") &&
      !wordAt(m, i, "delete")) return None
    // a trailing RETURNING list (u15) splits off before the statement
    // body parses — it is the last clause in the Postgres/DuckDB grammar
    val retPos = findTopLevelKeywordIn(m, i, "returning")
    val (body, bodyM, items) =
      if (retPos < 0) (sql, m, None)
      else {
        val it = splitTopLevel(sql.substring(retPos + 9)).map(_.trim)
        require(it.nonEmpty && it.forall(_.nonEmpty),
          "empty RETURNING list")
        (sql.substring(0, retPos), m.substring(0, retPos), Some(it))
      }
    val base =
      if (wordAt(bodyM, i, "insert")) parseInsert(body, bodyM, i)
      else if (wordAt(bodyM, i, "update")) parseUpdate(body, bodyM, i)
      else parseDelete(body, bodyM, i)
    Some(items.fold(base: Stmt)(its => Returning(base, its)))
  }

  /** `name [AS alias]` — the MERGE rule: a bare (possibly dotted /
    * backticked) name with no alias defaults its alias to the LAST
    * identifier part, backticks stripped (advice r15: `db.t` must not
    * become the alias text).
    */
  private def parseTargetRef(text: String, what: String): (String, String) = {
    val t = text.trim
    require(t.nonEmpty, s"empty $what target")
    val parts = t.split("\\s+").toSeq
    val name = parts.head
    require(Dialect.isBareIdentifier(name),
      s"$what target must be a table name, got: $t")
    val explicit = parts.tail.filterNot(_.equalsIgnoreCase("as"))
    require(explicit.size <= 1, s"malformed $what target: $t")
    val alias = explicit.headOption.getOrElse {
      val last = Dialect.defaultAliasOf(name)
      require(last.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"cannot derive an alias from '$name' — add an explicit alias")
      last
    }
    require(alias.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"malformed $what alias: $alias")
    (name, alias)
  }

  private def parseInsert(sql: String, m: String, start: Int): Insert = {
    var i = skipWs(m, start + 6)
    require(wordAt(m, i, "into"), "INSERT must be followed by INTO")
    i = skipWs(m, i + 4)
    val ns = i
    while (i < m.length && (m.charAt(i).isLetterOrDigit ||
      m.charAt(i) == '_' || m.charAt(i) == '.')) i += 1
    val name = sql.substring(ns, i)
    require(name.nonEmpty && Dialect.isBareIdentifier(name),
      "INSERT INTO needs a table name")
    i = skipWs(m, i)
    // `BY NAME` (u17, DuckDB): source columns map to target columns by
    // NAME — unnamed target columns fill NULL, a source column with no
    // target refuses (probed)
    var byName = false
    if (wordAt(m, i, "by")) {
      val j = skipWs(m, i + 2)
      require(wordAt(m, j, "name"), "INSERT INTO t BY must be BY NAME")
      byName = true
      i = skipWs(m, j + 4)
    }
    var cols: Option[Seq[String]] = None
    if (i < m.length && m.charAt(i) == '(') {
      // a paren here is the column list ONLY if the remainder still has
      // a VALUES/SELECT — `INSERT INTO t (SELECT …)` is a source, not a
      // column list
      val close = matchParen(m, i)
      val inner = sql.substring(i + 1, close).trim
      val innerM = stripLiterals(inner)
      val isColList = splitTopLevel(inner)
        .forall(_.trim.matches("[A-Za-z_][A-Za-z0-9_]*")) &&
        !wordAt(innerM, skipWs(innerM, 0), "select")
      if (isColList) {
        cols = Some(splitTopLevel(inner).map(_.trim))
        require(cols.get.map(_.toLowerCase).distinct.size == cols.get.size,
          "duplicate column in INSERT column list")
        i = skipWs(m, close + 1)
      }
    }
    val restAll = sql.substring(i)
    val restMAll = m.substring(i)
    // trailing ON CONFLICT clause (u12) splits off the source text
    val conflictPos = {
      var p = findTopLevelKeywordIn(restMAll, 0, "on")
      var found = -1
      while (p >= 0 && found < 0) {
        if (wordAt(restMAll, skipWs(restMAll, p + 2), "conflict")) found = p
        else p = findTopLevelKeywordIn(restMAll, p + 2, "on")
      }
      found
    }
    val (rest, restM) =
      if (conflictPos < 0) (restAll, restMAll)
      else (restAll.substring(0, conflictPos), restMAll.substring(0, conflictPos))
    val conflict =
      if (conflictPos < 0) None
      else Some(parseConflict(restAll.substring(conflictPos),
        restMAll.substring(conflictPos)))
    require(!byName || cols.isEmpty,
      "INSERT BY NAME maps columns by name — drop the explicit column " +
        "list")
    val k = skipWs(restM, 0)
    if (wordAt(restM, k, "values")) {
      require(!byName,
        "INSERT BY NAME needs a SELECT source (VALUES rows carry no " +
          "column names)")
      val v = rest.substring(k + 6).trim
      require(v.startsWith("("),
        "INSERT VALUES needs parenthesized row expressions")
      Insert(name, cols, Some(v), None, conflict)
    } else {
      require(rest.trim.nonEmpty,
        "INSERT INTO needs VALUES (…) or a SELECT source")
      Insert(name, cols, None, Some(rest.trim), conflict, byName)
    }
  }

  private def parseConflict(sql: String, m: String): Conflict = {
    var i = skipWs(m, 0)
    require(wordAt(m, i, "on"), "internal: conflict clause must start at ON")
    i = skipWs(m, i + 2)
    require(wordAt(m, i, "conflict"), "internal: expected CONFLICT")
    i = skipWs(m, i + 8)
    require(i < m.length && m.charAt(i) == '(',
      "ON CONFLICT needs an explicit (column, …) conflict target — this " +
        "engine's frames carry no primary key to default to; for " +
        "arbitrary match conditions use MERGE INTO instead")
    val close = matchParen(m, i)
    val keys = splitTopLevel(sql.substring(i + 1, close)).map(_.trim)
    require(keys.nonEmpty &&
      keys.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")) &&
      keys.map(_.toLowerCase).distinct.size == keys.size,
      s"malformed ON CONFLICT column list: ${sql.substring(i, close + 1)}")
    i = skipWs(m, close + 1)
    require(wordAt(m, i, "do"), "ON CONFLICT (…) must be followed by DO")
    i = skipWs(m, i + 2)
    if (wordAt(m, i, "nothing")) {
      require(sql.substring(i + 7).trim.isEmpty,
        s"unexpected text after DO NOTHING: ${sql.substring(i + 7).trim.take(40)}")
      Conflict(keys, None)
    } else {
      require(wordAt(m, i, "update"),
        "ON CONFLICT supports DO NOTHING or DO UPDATE SET …")
      i = skipWs(m, i + 6)
      require(wordAt(m, i, "set"), "DO UPDATE requires SET")
      // the optional conditional arm (u14): … DO UPDATE SET … WHERE cond
      val wherePos = findTopLevelKeywordIn(m, i + 3, "where")
      val setEnd = if (wherePos < 0) sql.length else wherePos
      val sets = parseSets(sql.substring(i + 3, setEnd), "DO UPDATE")
      val updWhere =
        if (wherePos < 0) None
        else {
          val w = sql.substring(wherePos + 5).trim
          require(w.nonEmpty, "empty WHERE in DO UPDATE")
          Some(w)
        }
      Conflict(keys, Some(sets), updWhere)
    }
  }

  /** Correlated source of UPDATE…FROM / DELETE…USING: `name [AS alias]`
    * or `( subquery ) [AS] alias` — the MERGE shapes.
    */
  private def parseSource(text: String, what: String): Source = {
    val t = text.trim
    require(t.nonEmpty, s"empty $what source")
    if (t.head == '(') {
      val mask = stripLiterals(text)
      val off = text.indexOf('(')
      val close = matchParen(mask, off)
      val rest = text.substring(close + 1).trim
      val alias =
        if (rest.length >= 2 && rest.substring(0, 2).equalsIgnoreCase("as")
          && (rest.length == 2 || rest.charAt(2).isWhitespace))
          rest.substring(2).trim
        else rest
      require(alias.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"a $what subquery source needs an alias: (…) AS name")
      Source(text.substring(off + 1, close).trim, alias)
    } else {
      val (name, alias) = parseTargetRef(t, what)
      Source(name, alias)
    }
  }

  private def parseUpdate(sql: String, m: String, start: Int): Update = {
    val setPos = findTopLevelKeywordIn(m, start + 6, "set")
    require(setPos > 0, "UPDATE requires SET")
    val (name, alias) = parseTargetRef(sql.substring(start + 6, setPos),
      "UPDATE")
    // clause order is SET … [FROM …] [WHERE …] (u13); a top-level FROM
    // after WHERE has no grammar here and must not ride silently into
    // the predicate text
    val fromPos = findTopLevelKeywordIn(m, setPos + 3, "from")
    val wherePos = findTopLevelKeywordIn(m, setPos + 3, "where")
    require(fromPos < 0 || wherePos < 0 || fromPos < wherePos,
      "UPDATE clause order is SET … FROM … WHERE … — found FROM after " +
        "WHERE")
    val setEnd = Seq(fromPos, wherePos, sql.length).filter(_ >= 0).min
    val sets = parseSets(sql.substring(setPos + 3, setEnd), "UPDATE")
    val from =
      if (fromPos < 0) None
      else {
        val srcEnd = if (wherePos < 0) sql.length else wherePos
        Some(parseSource(sql.substring(fromPos + 4, srcEnd), "UPDATE FROM"))
      }
    val where =
      if (wherePos < 0) None
      else {
        val w = sql.substring(wherePos + 5).trim
        require(w.nonEmpty, "empty WHERE in UPDATE")
        Some(w)
      }
    from.foreach { s =>
      require(!s.alias.equalsIgnoreCase(alias),
        s"UPDATE target and FROM source aliases collide ('$alias') — " +
          "alias one side")
    }
    Update(name, alias, sets, where, from)
  }

  private def parseDelete(sql: String, m: String, start: Int): Delete = {
    var i = skipWs(m, start + 6)
    require(wordAt(m, i, "from"), "DELETE must be followed by FROM")
    i = skipWs(m, i + 4)
    val usingPos = findTopLevelKeywordIn(m, i, "using")
    val wherePos = findTopLevelKeywordIn(m, i, "where")
    require(usingPos < 0 || wherePos < 0 || usingPos < wherePos,
      "DELETE clause order is FROM … USING … WHERE … — found USING " +
        "after WHERE")
    val refEnd = Seq(usingPos, wherePos, sql.length).filter(_ >= 0).min
    val (name, alias) = parseTargetRef(sql.substring(i, refEnd), "DELETE")
    val using =
      if (usingPos < 0) None
      else {
        val srcEnd = if (wherePos < 0) sql.length else wherePos
        Some(parseSource(sql.substring(usingPos + 5, srcEnd),
          "DELETE USING"))
      }
    val where =
      if (wherePos < 0) None
      else {
        val w = sql.substring(wherePos + 5).trim
        require(w.nonEmpty, "empty WHERE in DELETE")
        Some(w)
      }
    using.foreach { s =>
      require(!s.alias.equalsIgnoreCase(alias),
        s"DELETE target and USING source aliases collide ('$alias') — " +
          "alias one side")
    }
    Delete(name, alias, where, using)
  }

  /** `c = expr, …` assignment list (UPDATE SET and DO UPDATE SET). */
  private def parseSets(text: String, what: String): Seq[(String, String)] = {
    val sets = splitTopLevel(text).map { item =>
      val eq = Dialect.findTopLevelEquals(item)
      require(eq > 0, s"malformed SET assignment: ${item.trim}")
      val lhs = item.substring(0, eq).trim
      val rhs = item.substring(eq + 1).trim
      require(rhs.nonEmpty, s"empty SET expression for $lhs")
      // a clause keyword still in the assignment text means the caller
      // had no grammar for it (e.g. USING in UPDATE, FROM in DO
      // UPDATE) — refuse NAMING it instead of failing later as a
      // confusing Spark ParseException inside the expression (advice
      // r16; the supported clauses were split off before this point)
      val rhsMask = stripLiterals(rhs)
      for (kw <- Seq("where", "from", "using"))
        require(findTopLevelKeywordIn(rhsMask, 0, kw) < 0,
          s"$what SET does not support a trailing ${kw.toUpperCase} " +
            s"clause here (found it inside the expression for '$lhs') — " +
            "see UPDATE … FROM … WHERE / DELETE … USING … WHERE / " +
            "ON CONFLICT … DO UPDATE SET … WHERE for the supported forms")
      val col = lhs.split("\\.").last
      require(col.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"SET left-hand side must be a column name, got: $lhs")
      (col, rhs)
    }
    require(sets.nonEmpty, s"$what SET with no assignments")
    require(sets.map(_._1.toLowerCase).distinct.size == sets.size,
      s"duplicate column in $what SET")
    sets
  }


  /** Execute a parsed DML statement. `resolve` maps the target name to
    * its frame (session catalog at the session surface); `runStmt` runs
    * a SELECT source through the caller's full SQL pipeline; `sqlExpr`
    * parses a WHERE / SET / conflict expression, with the statement's
    * names visible to its subqueries.
    */
  def run(spark: SparkSession, st: Stmt, resolve: String => DataFrame,
          runStmt: String => DataFrame,
          sqlExpr: String => Column = expr(_)): DataFrame = st match {
    case Insert(ref, cols, values, source, conflict, byName) =>
      val t = resolve(ref)
      val aligned = alignedInsert(spark, t, cols, values, source, runStmt,
        byName)
      conflict match {
        case None => t.union(aligned)
        case Some(c) => runOnConflict(t, aligned, c, sqlExpr)
      }

    case Truncate(ref) => resolve(ref).limit(0)

    case Update(ref, alias, sets, where, fromOpt) =>
      val t = resolve(ref).as(alias)
      requireSetCols(t, sets, "UPDATE")
      fromOpt match {
        case None =>
          val pred = where.map(sqlExpr).getOrElse(lit(true))
          t.select(t.schema.fields.toSeq.map { f =>
            sets.find(_._1.equalsIgnoreCase(f.name)) match {
              case Some((_, e)) =>
                when(pred, sqlExpr(e).cast(f.dataType))
                  .otherwise(col(s"$alias.`${f.name}`")).as(f.name)
              case None => col(s"$alias.`${f.name}`").as(f.name)
            }
          }: _*)
        case Some(src) =>
          runUpdateFrom(spark, t, alias, sets, where, src, resolve, sqlExpr)
      }

    case Delete(ref, alias, where, usingOpt) =>
      val t = resolve(ref).as(alias)
      usingOpt match {
        case None => where match {
          case None => t.limit(0) // DELETE without WHERE removes all rows
          case Some(w) => t.filter(!coalesce(sqlExpr(w), lit(false)))
        }
        case Some(src) =>
          // DELETE … USING: drop target rows with ≥1 matching source
          // row — exactly one ANTI-join on the predicate (multi-match
          // is fine: any match deletes). No WHERE = any source row
          // matches every target row (the cross-join rule): a nonempty
          // source deletes everything, an empty one nothing.
          val s = resolve(src.ref).as(src.alias)
          val pred = where.map(sqlExpr).getOrElse(lit(true))
          t.join(s, pred, "left_anti")
      }

    // RETURNING (u15): project the AFFECTED rows — inserted rows, the
    // post-image of updated rows (SET expressions applied over the OLD
    // row), deleted rows — through the item list. The DELETE arm is a
    // filter/semi-join (the complement of the statement's own
    // anti-join); every arm stays expression-level over the same plans
    // the plain statements build.
    case Returning(inner, items) =>
      val affected: DataFrame = inner match {
        case Insert(ref, cols, values, source, None, byName) =>
          alignedInsert(spark, resolve(ref), cols, values, source, runStmt,
            byName)
        // upsert RETURNING (u21, Postgres semantics, probed): DO
        // NOTHING returns ONLY the inserted rows (conflicting rows are
        // not affected); DO UPDATE returns inserted rows plus the
        // post-image of rows whose update gate fired (a FALSE/NULL
        // u14 WHERE arm blocks the update AND the return)
        case Insert(ref, cols, values, source, Some(cflt), byName) =>
          val t = resolve(ref)
          val aligned = alignedInsert(spark, t, cols, values, source,
            runStmt, byName)
          runOnConflict(t, aligned, cflt, sqlExpr, returningOnly = true)
        case Update(ref, alias, sets, where, None) =>
          val t = resolve(ref).as(alias)
          requireSetCols(t, sets, "UPDATE")
          val gate = where.map(w => coalesce(sqlExpr(w), lit(false)))
            .getOrElse(lit(true))
          t.filter(gate).select(t.schema.fields.toSeq.map { f =>
            sets.find(_._1.equalsIgnoreCase(f.name)) match {
              case Some((_, e)) => sqlExpr(e).cast(f.dataType).as(f.name)
              case None => col(s"$alias.`${f.name}`").as(f.name)
            }
          }: _*)
        case Update(ref, alias, sets, where, Some(src)) =>
          val t = resolve(ref).as(alias)
          requireSetCols(t, sets, "UPDATE")
          runUpdateFrom(spark, t, alias, sets, where, src, resolve, sqlExpr,
            onlyMatched = true)
        case Delete(ref, alias, where, None) =>
          val t = resolve(ref).as(alias)
          where.map(w => t.filter(coalesce(sqlExpr(w), lit(false))))
            .getOrElse(t)
        case Delete(ref, alias, where, Some(src)) =>
          val t = resolve(ref).as(alias)
          val s = resolve(src.ref).as(src.alias)
          val pred = where.map(sqlExpr).getOrElse(lit(true))
          t.join(s, pred, "left_semi")
        case Returning(_, _) =>
          throw new IllegalStateException("nested RETURNING")
        case Truncate(_) =>
          throw new IllegalArgumentException(
            "TRUNCATE takes no RETURNING clause")
      }
      affected.selectExpr(items: _*)
  }

  private def requireSetCols(t: DataFrame, sets: Seq[(String, String)],
                             what: String): Unit =
    sets.foreach { case (n, _) =>
      require(t.columns.exists(_.equalsIgnoreCase(n)),
        s"$what references unknown column '$n' " +
          s"(target has: ${t.columns.mkString(", ")})")
    }

  /** The INSERT source aligned into the target schema: explicit column
    * list fills unnamed target columns with NULL; no list is positional
    * over the full width; every expression casts into the target type.
    */
  private def alignedInsert(spark: SparkSession, t: DataFrame,
                            cols: Option[Seq[String]],
                            values: Option[String], source: Option[String],
                            runStmt: String => DataFrame,
                            byName: Boolean = false): DataFrame = {
    val src = (values, source) match {
      case (Some(v), _) => spark.sql(s"SELECT * FROM VALUES $v")
      case (_, Some(s)) => runStmt(s)
      case _ => throw new IllegalStateException("unreachable")
    }
    if (byName) {
      // BY NAME (u17): every SOURCE column must name a target column
      // (DuckDB refuses unknowns, probed); unnamed target columns NULL
      src.columns.foreach { c =>
        require(t.columns.exists(_.equalsIgnoreCase(c)),
          s"INSERT BY NAME: source column '$c' does not exist in the " +
            s"target (target has: ${t.columns.mkString(", ")})")
      }
      return src.select(t.schema.fields.toSeq.map { f =>
        src.columns.find(_.equalsIgnoreCase(f.name)) match {
          case Some(c) => src.col(s"`$c`").cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }: _*)
    }
    cols.foreach { cs =>
      cs.foreach { c =>
        require(t.columns.exists(_.equalsIgnoreCase(c)),
          s"INSERT references unknown target column '$c' " +
            s"(target has: ${t.columns.mkString(", ")})")
      }
      require(cs.size == src.columns.length,
        s"INSERT column list (${cs.size}) and source width " +
          s"(${src.columns.length}) differ")
    }
    if (cols.isEmpty)
      require(src.columns.length == t.columns.length,
        s"positional INSERT source has ${src.columns.length} columns, " +
          s"target has ${t.columns.length}")
    val srcCols = src.columns
    src.select(t.schema.fields.toSeq.map { f =>
      val pos = cols match {
        case Some(cs) => cs.indexWhere(_.equalsIgnoreCase(f.name))
        case None => t.columns.indexOf(f.name)
      }
      val e: Column =
        if (pos < 0) lit(null) else src.col(s"`${srcCols(pos)}`")
      e.cast(f.dataType).as(f.name)
    }: _*)
  }

  private val UTId = "__upd_tid"
  private val USFlag = "__upd_s_present"

  /** Correlated UPDATE (u13): ONE left join of target against source on
    * the WHERE predicate; matched rows take the SET expressions (which
    * may reference both aliases), unmatched rows pass through. The
    * "one source row per target row" contract is refused loudly by
    * MERGE's guard, [[MergeSql.oneSourceRowPerTarget]].
    */
  private def runUpdateFrom(spark: SparkSession, t: DataFrame, alias: String,
                            sets: Seq[(String, String)],
                            where: Option[String], src: Source,
                            resolve: String => DataFrame,
                            sqlExpr: String => Column,
                            onlyMatched: Boolean = false): DataFrame = {
    val s = resolve(src.ref)
    Seq(UTId, USFlag).foreach { r =>
      require(!t.columns.contains(r) && !s.columns.contains(r),
        s"UPDATE … FROM reserves the column name $r")
    }
    val tw = t.withColumn(UTId, monotonically_increasing_id()).as(alias)
    val sw = s.withColumn(USFlag, lit(true)).as(src.alias)
    val pred = where.map(sqlExpr).getOrElse(lit(true))
    val joined0 = tw.join(sw, pred, "left")
    val matched = col(USFlag).isNotNull
    val joined = MergeSql.oneSourceRowPerTarget(sw,
      where.flatMap(MergeSql.equiSourceKeys(_, alias, src.alias)),
      joined0, matched, UTId) { (n, _) =>
      throw new IllegalArgumentException(
        s"UPDATE … FROM: a target row matches $n source rows — one target " +
          "row may take its values from exactly one source row; " +
          "deduplicate the source on the join keys first (e.g. a " +
          "latest-wins window)")
    }
    // onlyMatched = the RETURNING arm: just the post-image of rows a
    // source row matched (the projection below is unchanged — matched
    // is TRUE on every surviving row, so each CASE takes its SET arm)
    val base = if (onlyMatched) joined.filter(matched) else joined
    base.select(t.schema.fields.toSeq.map { f =>
      sets.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, e)) =>
          when(matched, sqlExpr(e).cast(f.dataType))
            .otherwise(col(s"$alias.`${f.name}`")).as(f.name)
        case None => col(s"$alias.`${f.name}`").as(f.name)
      }
    }: _*)
  }

  /** `ON CONFLICT` lowering (u12) over the target-ALIGNED source:
    *
    *   DO NOTHING — target ∪ (source ANTI-JOIN target on the keys);
    *   DO UPDATE  — one LEFT join of target against the source, whose
    *     row rides along as a STRUCT column literally named `excluded`,
    *     so a SET expression's `excluded.c` resolves as native struct
    *     field access and a bare `c` resolves to the target column
    *     (exactly the Postgres/DuckDB scoping — no text rewriting);
    *     non-conflicting source rows append via the same anti-join.
    *
    * Contracts, all loud: the conflict keys must be target columns; a
    * source with duplicate conflict keys refuses (it would update one
    * target row twice — the u09 MERGE one-source-row rule, enforced by
    * ONE keyed aggregate, no join re-run); NULL keys never conflict
    * (SQL equality), so null-keyed source rows insert. Duplicate keys
    * in the TARGET all update — frames carry no unique constraint, the
    * documented divergence from index-backed engines.
    *
    * Scale shape: one shuffle on the conflict keys for the join, one
    * for the anti-join (AQE broadcasts a small source), the guard is
    * one keyed count; every SET is expression-level from there.
    *
    * `returningOnly` (u21): return the AFFECTED set instead of the
    * post-statement table — inserted rows for DO NOTHING (Postgres:
    * conflicting rows are not affected), inserted rows ∪ the
    * post-image of gate-fired updates for DO UPDATE.
    */
  private def runOnConflict(t: DataFrame, aligned: DataFrame,
                            c: Conflict, sqlExpr: String => Column,
                            returningOnly: Boolean = false): DataFrame = {
    c.keys.foreach { k =>
      require(t.columns.exists(_.equalsIgnoreCase(k)),
        s"ON CONFLICT references unknown column '$k' " +
          s"(target has: ${t.columns.mkString(", ")})")
    }
    // NULL keys never conflict (SQL equality), so they are EXCLUDED from
    // the uniqueness guard — two null-keyed source rows both insert
    // (review-caught: counting them grouped the NULLs together and
    // falsely refused; same rule as MergeSql's guard)
    val dup = aligned
      .filter(c.keys.map(k => col(s"`$k`").isNotNull).reduce(_ && _))
      .groupBy(c.keys.map(k => col(s"`$k`")): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
    require(dup == 0,
      "ON CONFLICT source contains duplicate conflict keys — one target " +
        "row may be affected only once; deduplicate the source first")
    val newRows = aligned.join(
      t.select(c.keys.map(k => col(s"`$k`")): _*), c.keys, "left_anti")
    // re-alias every output before the union: the anti-join can carry a
    // constraint referencing the pruned target key attribute, and
    // Union's constraint rewriting crashes on it (key not found: k#N —
    // surfaced when the target is a CTAS snapshot); a fresh Project
    // with aliases keeps only output-expressible constraints
    def fresh(df: DataFrame): DataFrame =
      df.select(df.columns.map(cn => col(s"`$cn`").as(cn)): _*)
    c.action match {
      case None => // DO NOTHING
        if (returningOnly) fresh(newRows)
        else fresh(t).union(fresh(newRows))
      case Some(sets) =>
        sets.foreach { case (n, _) =>
          require(t.columns.exists(_.equalsIgnoreCase(n)),
            s"DO UPDATE SET references unknown column '$n' " +
              s"(target has: ${t.columns.mkString(", ")})")
        }
        val s2 = aligned.select(
          c.keys.map(k => col(s"`$k`").as(s"__ck_$k")) :+
            struct(aligned.columns.map(cn => col(s"`$cn`")): _*)
              .as("excluded"): _*)
        val cond = c.keys.map(k =>
          t.col(s"`$k`") === s2.col(s"`__ck_$k`")).reduce(_ && _)
        val joined = t.join(s2, cond, "left")
        // the DO UPDATE … WHERE arm (u14): a conflicting row updates
        // only when the condition is TRUE (FALSE/NULL keeps the target
        // row — and still blocks the insert, DuckDB's probed rule).
        // Bare names resolve to target columns, `excluded.c` to the
        // incoming row; on a non-conflicting row the struct is NULL so
        // any excluded.-reference nulls the condition → keep (safe).
        val updGate = c.updWhere match {
          case None => col("excluded").isNotNull
          case Some(w) =>
            col("excluded").isNotNull && coalesce(sqlExpr(w), lit(false))
        }
        if (returningOnly) {
          // affected = gate-fired post-images only: the filter makes
          // the gate TRUE on every surviving row, so each SET applies
          // unconditionally
          val updatedAffected = joined.filter(updGate)
            .select(t.schema.fields.toSeq.map { f =>
              sets.find(_._1.equalsIgnoreCase(f.name)) match {
                case Some((_, e)) => sqlExpr(e).cast(f.dataType).as(f.name)
                case None => t.col(s"`${f.name}`").as(f.name)
              }
            }: _*)
          return fresh(updatedAffected).union(fresh(newRows))
        }
        val updated = joined.select(t.schema.fields.toSeq.map { f =>
          sets.find(_._1.equalsIgnoreCase(f.name)) match {
            case Some((_, e)) =>
              when(updGate, sqlExpr(e).cast(f.dataType))
                .otherwise(t.col(s"`${f.name}`")).as(f.name)
            case None => t.col(s"`${f.name}`").as(f.name)
          }
        }: _*)
        fresh(updated).union(fresh(newRows))
    }
  }
}
