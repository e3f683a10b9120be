package graft.sql

/** Tiny SQL pre-pass bridging the reference's PostgreSQL-flavored dialect
  * (reference: vinum/parser/parser.py pglast grammar) to Spark SQL.
  *
  * Rewrites, applied only OUTSIDE string literals / quoted identifiers:
  *   - `np.name`  -> `np_name`   (the NumPy function namespace,
  *     reference: vinum/core/udf.py:48-55; resolved by [[graft.functions.Registry]])
  *   - `#`        -> `^`         (pg bitwise xor, reference:
  *     vinum/core/expressions.py:17; Spark spells xor `^`)
  *
  * Everything else (operators, precedence, aggregate/HAVING/ORDER BY/LIMIT
  * semantics) is already shared between the two dialects and is left to
  * Spark's ANTLR parser.
  */
object Dialect {

  /** Apply all dialect rewrites. Quote- and comment-aware single pass:
    * text inside '...' / "..." / `...` and inside `--` line or `/* */`
    * block comments passes through untouched.
    */
  def rewrite(sql: String): String = {
    // scan the masked view (ONE masking implementation for every
    // dialect pass — [[stripLiterals]] owns escape and nested-comment
    // handling), emit from the original: masked code chars sit at the
    // same offsets, so matching on the mask and copying the original is
    // exact
    val m = stripLiterals(sql)
    val out = new StringBuilder(sql.length + 8)
    var i = 0
    val n = sql.length
    while (i < n) {
      m.charAt(i) match {
        case '#' => out.append('^'); i += 1
        // DuckDB integer division `//` → Spark's `div` (both truncate
        // toward zero, probed -7 → -3). DOCUMENTED DIVERGENCE: DuckDB's
        // `//` on float operands silently degrades to plain division;
        // Spark's div refuses non-integral operands loudly — loud
        // beats silent-wrong.
        case '/' if i + 1 < n && m.charAt(i + 1) == '/' =>
          out.append(" div "); i += 2
        case 'n' | 'N'
            if i + 2 < n &&
              (m.charAt(i + 1) == 'p' || m.charAt(i + 1) == 'P') &&
              m.charAt(i + 2) == '.' &&
              (i == 0 || !isIdentChar(m.charAt(i - 1))) &&
              i + 3 < n && isIdentStart(m.charAt(i + 3)) =>
          out.append(sql.charAt(i)).append(sql.charAt(i + 1)).append('_')
          i += 3
        case _ => out.append(sql.charAt(i)); i += 1
      }
    }
    out.toString
  }

  /** The clause chain of the SQL statement pipeline (step 4 of
    * `graft.api.Table.lowerStatement`), in order: FROM-first, trailing
    * commas, series table functions, `**`, struct/map literals,
    * subscripts, dot calls, IGNORE NULLS, SIMILAR TO / GLOB, ordered
    * aggregates; then the window family — named windows inline, FILTER
    * folds, the EXCLUDE algebra lowers (it introduces no aliases for the
    * alias passes to chase), DISTINCT windows lower (EXCLUDE-carrying
    * ones arrive DISTINCT-free); then alias-into-WHERE, GROUPS frames
    * (after alias-into-WHERE: the WHERE moves inside its wrap) and
    * nulls-last (the wrap's outer ORDER BY is still top-level there).
    */
  def lowerClauses(sql: String): String =
    ClauseChain.foldLeft(sql)((q, pass) => pass(q))

  private val ClauseChain: Seq[String => String] = Seq(
    q => fromFirst(q).getOrElse(q), stripTrailingCommas, rewriteSeriesTvf,
    rewritePowerOp, rewriteStructLiterals, rewriteSubscripts,
    rewriteDotCalls, rewriteIgnoreNulls, rewriteSimilarGlob,
    rewriteOrderedAggs, inlineChainedWindows, rewriteWindowFilter,
    rewriteWindowExclude, rewriteDistinctWindow, aliasesIntoWhere,
    rewriteGroupsFrames, orderByNullsLast)

  /** The reference binder substitutes select-list aliases into WHERE,
    * GROUP BY, HAVING and ORDER BY (vinum/planner/binder.py:93-132).
    * Spark ≥3.4 resolves select aliases in GROUP BY / HAVING / ORDER BY
    * natively but NOT in WHERE, so `SELECT a*2 AS d FROM t WHERE d > 3`
    * works in the reference and fails in Spark. This pre-pass inlines
    * them: every bare, unqualified occurrence of a select-list alias
    * inside the top-level WHERE clause becomes the aliased expression in
    * parentheses. Quote-aware; a qualified name (`t.d`), a function call
    * (`d(...)`), or a qualifier (`d.x`) is never substituted; an alias
    * SHADOWS a same-named input column, exactly like the reference's
    * alias map.
    */
  def aliasesIntoWhere(sql: String): String = {
    val sel = findTopLevelKeyword(sql, 0, "select")
    if (sel < 0) return sql
    val from = findTopLevelKeyword(sql, sel + 6, "from")
    if (from < 0) return sql
    val where = findTopLevelKeyword(sql, from, "where")
    if (where < 0) return sql
    val aliases = splitTopLevel(sql.substring(sel + 6, from)).flatMap { item =>
      AliasRe.findFirstMatchIn(item).map { m =>
        (m.group(2).toLowerCase, stripSelectHead(m.group(1)))
      }
    }.toMap
    if (aliases.isEmpty) return sql
    var end = sql.length
    for (kw <- Seq("group", "having", "order", "limit", "offset")) {
      val idx = findTopLevelKeyword(sql, where + 5, kw)
      if (idx >= 0 && idx < end) end = idx
    }
    sql.substring(0, where + 5) +
      substituteIdents(sql.substring(where + 5, end), aliases) +
      sql.substring(end)
  }

  private val AliasRe =
    """(?is)^(.*\S)\s+as\s+([A-Za-z_][A-Za-z0-9_]*)\s*$""".r

  /** Strip a `DISTINCT [ON (keys)]` / `ALL` head from the FIRST select
    * item, so the alias map built by [[aliasesIntoWhere]] holds the bare
    * expression — a DISTINCT ON key list must not leak into a WHERE
    * substitution ("(ON (k) v) > 0" is not SQL). The key-list parens are
    * matched on the masked view (parens in literal content don't count).
    */
  private def stripSelectHead(item: String): String = {
    val m = stripLiterals(item)
    val don = "(?is)^\\s*distinct\\s+on\\s*\\(".r.findFirstMatchIn(m)
    don match {
      case Some(mm) =>
        var depth = 1
        var i = mm.end
        while (i < m.length && depth > 0) {
          val c = m.charAt(i)
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          i += 1
        }
        item.substring(i).trim
      case None =>
        item.replaceAll("(?is)^\\s*(distinct|all)\\s+", "").trim
    }
  }

  /** Replace bare identifier occurrences (outside quotes, not qualified,
    * not a call, not a qualifier) per the lowercase-keyed map, wrapping
    * replacements in parentheses.
    */
  private def substituteIdents(s: String, m: Map[String, String]): String = {
    // masked-view scan (comment- as well as quote-aware, unlike the old
    // inline quote tracker); identifiers are read from the original at
    // the masked offsets
    val mv = stripLiterals(s)
    val out = new StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      val c = mv.charAt(i)
      if (isIdentStart(c)) {
        var j = i + 1
        while (j < mv.length &&
          (Character.isLetterOrDigit(mv.charAt(j)) || mv.charAt(j) == '_')) j += 1
        val word = s.substring(i, j)
        val qualified = i > 0 && mv.charAt(i - 1) == '.'
        val isQualifier = j < mv.length && mv.charAt(j) == '.'
        var k = j
        while (k < mv.length && mv.charAt(k).isWhitespace) k += 1
        val isCall = k < mv.length && mv.charAt(k) == '('
        m.get(word.toLowerCase) match {
          case Some(expr) if !qualified && !isQualifier && !isCall =>
            out.append('(').append(expr).append(')')
          case _ => out.append(word)
        }
        i = j
      } else { out.append(s.charAt(i)); i += 1 }
    }
    out.toString
  }

  /** The reference sorts nulls LAST for both ASC and DESC (Arrow default,
    * verified by its goldens — reference test_query_results.py:1253-1269),
    * while Spark defaults to nulls-first for ASC. Append `NULLS LAST` to
    * every top-level ORDER BY item that has no explicit NULLS clause.
    * Items inside parentheses (subqueries, window OVER clauses) are left
    * alone — only the outermost ORDER BY is the reference's sort.
    */
  def orderByNullsLast(sql: String): String = {
    val s = sql
    // scan the masked view: an ORDER BY inside a literal, a quoted
    // identifier, or a comment is content, not a sort clause
    val masked = stripLiterals(s)
    var i = 0
    var depth = 0
    var obStart = -1 // index just after the last top-level ORDER BY
    while (i < masked.length) {
      masked.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case 'o' | 'O' if depth == 0 &&
            masked.regionMatches(true, i, "order", 0, 5) &&
            (i == 0 || !masked.charAt(i - 1).isLetterOrDigit) =>
          val rest = masked.substring(i + 5)
          val m = "^\\s+by\\s".r.findFirstIn(rest.toLowerCase)
          if (m.isDefined) { obStart = i + 5 + m.get.length; i = obStart }
          else i += 5
        case _ => i += 1
      }
    }
    if (obStart < 0) return s
    // sort items run until a top-level LIMIT/OFFSET or end of string
    var end = s.length
    for (kw <- Seq("limit", "offset")) {
      val idx = findTopLevelKeyword(s, obStart, kw)
      if (idx >= 0 && idx < end) end = idx
    }
    s.substring(0, obStart) + nullsLastItems(s.substring(obStart, end)) +
      s.substring(end)
  }

  /** `NULLS LAST` appended to each comma-separated sort item of `items`
    * that has no NULLS clause of its own.
    */
  private def nullsLastItems(items: String): String =
    splitTopLevel(items).map { it =>
      // the NULLS check likewise looks at code, not literal/comment text
      // (items never start mid-literal: splits happen on the masked view)
      val mIt = stripLiterals(it)
      if ("(?i)\\bnulls\\b".r.findFirstIn(mIt).isDefined) it
      else {
        // insert after the last CODE character, so a trailing line
        // comment (`k -- note`) cannot swallow the appended clause
        val lastCode = mIt.lastIndexWhere(!_.isWhitespace)
        if (lastCode < 0) it
        else it.substring(0, lastCode + 1) + " NULLS LAST" +
          it.substring(lastCode + 1)
      }
    }.mkString(",")

  /** DuckDB/Postgres-style `SELECT DISTINCT ON (keys) items FROM …
    * ORDER BY sorts`: keep the FIRST row per key combination in the
    * statement's sort order. Spark has no DISTINCT ON; lower it onto a
    * `row_number()` window partitioned by the keys and ordered by the
    * statement's ORDER BY, filtered to 1, with the original projection
    * and ORDER BY re-applied outside:
    *
    *   [WITH …] SELECT items FROM (
    *     SELECT *, row_number() OVER (PARTITION BY keys
    *                                  ORDER BY sorts) AS __don__
    *     FROM … [WHERE …])
    *   WHERE __don__ = 1 ORDER BY sorts [LIMIT/OFFSET tail]
    *
    * Runs AFTER [[orderByNullsLast]], so the sort items already carry
    * the receiver dialect's NULLS LAST default when they move inside
    * the window spec — the kept-row choice matches DuckDB under NULL
    * sort values. Loud requirements (silent nondeterminism is worse
    * than an error): a top-level ORDER BY must be present (it defines
    * "first"), no top-level GROUP BY / HAVING (the inner `SELECT *`
    * expansion has no grouped form), and keys/sorts must reference base
    * columns (the window runs below the projection, where select
    * aliases don't exist). `None` when the statement has no top-level
    * `SELECT DISTINCT ON` head. A `distinct on` inside a literal,
    * comment, or subquery never triggers (masked scan).
    */
  def distinctOn(sql: String): Option[String] = {
    val m = stripLiterals(sql)
    val sel = findTopLevelKeywordIn(m, 0, "select")
    if (sel < 0) return None
    val dis = findTopLevelKeywordIn(m, sel + 6, "distinct")
    if (dis < 0 || m.substring(sel + 6, dis).trim.nonEmpty) return None
    val on = findTopLevelKeywordIn(m, dis + 8, "on")
    if (on < 0 || m.substring(dis + 8, on).trim.nonEmpty) return None
    var i = on + 2
    while (i < m.length && m.charAt(i).isWhitespace) i += 1
    require(i < m.length && m.charAt(i) == '(',
      "DISTINCT ON requires a parenthesized key list")
    val close = matchParenAt(m, i)
    val keys = sql.substring(i + 1, close).trim
    require(keys.nonEmpty, "DISTINCT ON key list is empty")
    val from = findTopLevelKeywordIn(m, close + 1, "from")
    require(from > 0, "DISTINCT ON requires a FROM clause")
    val items = sql.substring(close + 1, from).trim
    require(items.nonEmpty, "DISTINCT ON requires a select list")
    require(findTopLevelKeywordIn(m, from, "group") < 0 &&
      findTopLevelKeywordIn(m, from, "having") < 0 &&
      findTopLevelKeywordIn(m, from, "qualify") < 0,
      "DISTINCT ON over GROUP BY / HAVING / QUALIFY is not supported")
    require(Seq("union", "intersect", "except")
      .forall(findTopLevelKeywordIn(m, from, _) < 0),
      "DISTINCT ON over a set operation is not supported — wrap the " +
        "set operation in a subquery")
    val order = findTopLevelKeywordIn(m, from, "order")
    require(order > 0, "DISTINCT ON requires an ORDER BY — without one " +
      "the row kept per key is nondeterministic; add a sort or use " +
      "plain DISTINCT")
    val by = findTopLevelKeywordIn(m, order + 5, "by")
    require(by > 0, "malformed ORDER BY")
    var obEnd = sql.length
    for (kw <- Seq("limit", "offset")) {
      val idx = findTopLevelKeywordIn(m, order, kw)
      if (idx >= 0 && idx < obEnd) obEnd = idx
    }
    val sorts = sql.substring(by + 2, obEnd).trim
    require(sorts.nonEmpty, "empty ORDER BY item list")
    // a BARE integer item (optionally with ASC/DESC/NULLS FIRST|LAST)
    // is positional at the top level but the CONSTANT inside OVER /
    // PARTITION BY — the rewrite would silently change which row is
    // kept, so reject ordinals in both the key list and the sort list.
    // Integer-LEADING expressions ("100 - score") are not ordinals and
    // pass through.
    def isOrdinal(item: String): Boolean =
      stripLiterals(item)
        .replaceAll("(?is)\\s+(asc|desc)\\b", "")
        .replaceAll("(?is)\\s+nulls\\s+(first|last)\\b", "")
        .trim.matches("\\d+")
    require(!splitTopLevel(keys).exists(isOrdinal),
      "DISTINCT ON does not support ordinal keys — name the columns")
    require(!splitTopLevel(sorts).exists(isOrdinal),
      "DISTINCT ON does not support ordinal ORDER BY items — name the " +
        "sort columns")
    val tail = sql.substring(obEnd)
    val src = sql.substring(from, order)
    val head = sql.substring(0, sel)
    Some(s"${head}SELECT $items FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY $keys ORDER BY $sorts) AS __don__ $src) " +
      s"WHERE __don__ = 1 ORDER BY $sorts $tail")
  }

  /** Snowflake/DuckDB-style QUALIFY — filter on window-function results
    * after the SELECT list is evaluated. Spark SQL has no QUALIFY clause;
    * this splits a top-level one into the pieces [[graft.api.Table.sql]]
    * recombines as subquery + filter:
    *
    *   Some((inner, tail)) where `inner` is the query up to QUALIFY with
    *   `, (pred) AS __qualify__` appended to the select list and `tail`
    *   is the trailing ORDER BY / LIMIT / OFFSET text (possibly empty).
    *
    * The predicate may reference select-list aliases (substituted
    * inline, same mechanism as [[aliasesIntoWhere]] — lateral column
    * aliases can't reference window expressions in Spark) or contain
    * window functions directly. QUALIFY inside a subquery (paren
    * depth > 0) is untouched; `qualify` is treated as reserved at the
    * top level, as in DuckDB. Top-level DISTINCT is rejected —
    * appending the predicate column would change its semantics.
    */
  def splitQualify(sql: String): Option[(String, String)] = {
    val q = findTopLevelKeyword(sql, 0, "qualify")
    if (q < 0) return None
    var end = sql.length
    for (kw <- Seq("order", "limit", "offset")) {
      val idx = findTopLevelKeyword(sql, q + 7, kw)
      if (idx >= 0 && idx < end) end = idx
    }
    val tail = sql.substring(end).trim
    val before = sql.substring(0, q)
    val sel = findTopLevelKeyword(before, 0, "select")
    val from = findTopLevelKeyword(before, 0, "from")
    require(sel >= 0 && from > sel, "QUALIFY requires SELECT ... FROM")
    require(!before.substring(sel + 6).trim.toLowerCase.startsWith("distinct"),
      "QUALIFY with top-level DISTINCT is not supported")
    val aliases = splitTopLevel(before.substring(sel + 6, from)).flatMap { item =>
      AliasRe.findFirstMatchIn(item).map(m => (m.group(2).toLowerCase, m.group(1).trim))
    }.toMap
    val pred = substituteIdents(sql.substring(q + 7, end).trim, aliases)
    val inner = before.substring(0, from) +
      s", ($pred) AS __qualify__ " + before.substring(from)
    Some((inner, tail))
  }

  /** DuckDB-style `* EXCLUDE (a, b)` star modifier: expand the star to
    * the receiver's columns minus the excluded list. Spark has no
    * EXCLUDE; the expansion needs the bound table's schema, so
    * [[graft.api.Table.sql]] passes its own column list in. Only the
    * bare top-level form `* EXCLUDE (...)` (or a single unparenthesized
    * name) is rewritten, and only outside quotes; qualified stars
    * (`t.* EXCLUDE`) are left for Spark to reject. Case-insensitive on
    * both the keyword and the excluded names (Spark resolution is
    * case-insensitive by default). Unknown excluded names are an error —
    * silently ignoring them would hide typos.
    */
  def expandStarExclude(sql: String, columns: Seq[String]): String = {
    var cur = sql
    var guard = 0
    while (guard < 64) { // rewrite every occurrence (subqueries/UNION arms)
      val m = StarExcludeRe.findFirstMatchIn(stripLiterals(cur))
      if (m.isEmpty) return cur
      val mm = m.get
      // group offsets come from the masked view; slice the ORIGINAL text
      // at the same indices so quoted names survive the masking
      val grp = if (mm.group(1) != null) 1 else 2
      val excluded = cur.substring(mm.start(grp), mm.end(grp))
        .split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")
          .stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty).map(_.toLowerCase).toSet
      val unknown = excluded -- columns.map(_.toLowerCase).toSet
      require(unknown.isEmpty,
        s"EXCLUDE names not in the table: ${unknown.mkString(", ")}")
      val kept = columns.filterNot(c => excluded.contains(c.toLowerCase))
      require(kept.nonEmpty, "EXCLUDE removed every column")
      cur = cur.substring(0, mm.start) + kept.map(c => s"`$c`").mkString(", ") +
        cur.substring(mm.end)
      guard += 1
    }
    // never pass an unrewritten occurrence through to Spark's parser —
    // the resulting error there would point nowhere near the cause
    require(StarExcludeRe.findFirstMatchIn(stripLiterals(cur)).isEmpty,
      s"more than $guard `* EXCLUDE` occurrences in one statement")
    cur
  }

  private val StarExcludeRe =
    """(?is)\*\s+exclude\s*(?:\(([^)]*)\)|([A-Za-z_][A-Za-z0-9_]*))""".r

  /** DuckDB-style `* REPLACE (expr AS name, ...)` star modifier: expand
    * the star to the receiver's columns with each named column swapped
    * for its replacement expression (aliased back to the same name, so
    * position and name are preserved). Replacement expressions may
    * contain nested parens/commas — the argument list is delimited by
    * BALANCED-paren scanning on the masked view, then comma-split at
    * depth 0. Unknown names error loudly; every occurrence is rewritten
    * (same contract as [[expandStarExclude]]).
    */
  def expandStarReplace(sql: String, columns: Seq[String]): String =
    expandStarList(sql, columns, StarReplaceRe, "REPLACE") { item =>
      AliasRe.findFirstMatchIn(item) match {
        case Some(am) => (am.group(2).toLowerCase, am.group(1).trim)
        case None => throw new IllegalArgumentException(
          s"* REPLACE items must be `expr AS name`, got: ${item.trim}")
      }
    }((c, e) => s"($e) AS `$c`")

  private val StarReplaceRe =
    """(?is)\*\s+replace\s*\(""".r

  /** DuckDB-style `* RENAME (old AS new, ...)` star modifier (DuckDB ≥
    * 1.3): expand the star to the receiver's columns with the named ones
    * renamed in place — position preserved, expression untouched (the
    * pure-rename sibling of [[expandStarReplace]]). Unknown names error
    * loudly; every occurrence is rewritten.
    */
  def expandStarRename(sql: String, columns: Seq[String]): String =
    expandStarList(sql, columns, StarRenameRe, "RENAME") { item =>
      RenameRe.findFirstMatchIn(item) match {
        case Some(am) => (am.group(1).toLowerCase, am.group(2))
        case None => throw new IllegalArgumentException(
          s"* RENAME items must be `old AS new`, got: ${item.trim}")
      }
    }((c, n) => s"`$c` AS `$n`")

  private val StarRenameRe =
    """(?is)\*\s+rename\s*\(""".r

  /** The scan [[expandStarReplace]] and [[expandStarRename]] share: each
    * `* KW (item, ...)` occurrence (`re` matches up to the open paren)
    * expands to every column in order, a column named by an item
    * rendered as `render(column, value)` and the rest as the bare
    * column. `item` parses one list item into (lower-cased column,
    * value).
    */
  private def expandStarList(sql: String, columns: Seq[String],
                             re: scala.util.matching.Regex, kw: String)
                            (item: String => (String, String))
                            (render: (String, String) => String): String = {
    var cur = sql
    var guard = 0
    while (guard < 64) {
      val masked = stripLiterals(cur)
      val m = re.findFirstMatchIn(masked)
      if (m.isEmpty) return cur
      val open = m.get.end - 1 // position of the '('
      val close = matchParenAt(masked, open)
      val named = splitTopLevel(cur.substring(open + 1, close)).map(item).toMap
      val unknown = named.keySet -- columns.map(_.toLowerCase).toSet
      require(unknown.isEmpty,
        s"$kw names not in the table: ${unknown.mkString(", ")}")
      val expanded = columns.map { c =>
        named.get(c.toLowerCase).fold(s"`$c`")(render(c, _))
      }.mkString(", ")
      cur = cur.substring(0, m.get.start) + expanded + cur.substring(close + 1)
      guard += 1
    }
    require(re.findFirstMatchIn(stripLiterals(cur)).isEmpty,
      s"more than $guard `* $kw` occurrences in one statement")
    cur
  }

  /** Cheap pre-test for the star modifiers (`* EXCLUDE / REPLACE /
    * RENAME`) — like [[hasDynamicColumns]], lets callers skip schema
    * resolution on the statements that carry none.
    */
  def hasStarModifier(sql: String): Boolean =
    StarModifierRe.findFirstMatchIn(stripLiterals(sql)).isDefined

  private val StarModifierRe = """(?i)\*\s+(?:exclude|replace|rename)\b""".r

  // plain identifier-to-identifier rename (no expressions on the left)
  private val RenameRe =
    """(?is)^\s*([A-Za-z_][A-Za-z0-9_]*)\s+as\s+([A-Za-z_][A-Za-z0-9_]*)\s*$""".r

  /** Keyword scan over [[stripLiterals]]'s masked view: string literals,
    * quoted identifiers ("..." and `...`) and comments are blanked
    * before matching, so a `-- qualify` comment or a backticked
    * identifier containing `order` can never trigger a bogus split
    * (mirrors [[rewrite]]'s state machine; offsets are shared because
    * masking preserves length).
    */
  private[graft] def findTopLevelKeyword(s: String, from: Int, kw: String): Int =
    findTopLevelKeywordIn(stripLiterals(s), from, kw)

  /** [[findTopLevelKeyword]] over a PRECOMPUTED mask — masking preserves
    * offsets, so callers scanning many keywords over one statement mask
    * once and reuse it.
    *
    * Word boundaries are IDENTIFIER boundaries (underscore included):
    * `qualify_flag`, `asof_trades`, `limit_price`, `group_id` must never
    * match the keyword inside them.
    */
  private[graft] def findTopLevelKeywordIn(m: String, from: Int,
                                           kw: String): Int = {
    var i = from
    var depth = 0
    while (i < m.length) {
      val c = m.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && m.regionMatches(true, i, kw, 0, kw.length) &&
        (i == 0 || !isIdentBoundaryChar(m.charAt(i - 1))) &&
        (i + kw.length == m.length || !isIdentBoundaryChar(m.charAt(i + kw.length))))
        return i
      i += 1
    }
    -1
  }

  private def isIdentBoundaryChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** Case-insensitive keyword test at offset `k` of a MASKED view, with
    * identifier boundaries on both sides — the one word matcher every
    * masked-view scanner shares (a boundary-rule fix lands here once).
    */
  private[sql] def wordAt(m: String, k: Int, w: String): Boolean =
    k >= 0 && k + w.length <= m.length &&
      m.regionMatches(true, k, w, 0, w.length) &&
      (k == 0 || !isIdentBoundaryChar(m.charAt(k - 1))) &&
      (k + w.length == m.length || !isIdentBoundaryChar(m.charAt(k + w.length)))

  /** First depth-0 bare `=` (not `<= >= != ==`) on the masked view —
    * the SET-assignment / ON-conjunct splitter shared by MERGE, DML and
    * ON CONFLICT (one copy: a boundary-rule fix lands here once).
    */
  private[graft] def findTopLevelEquals(item: String): Int = {
    val m = stripLiterals(item)
    var depth = 0
    var i = 0
    while (i < m.length) {
      val c = m.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (c == '=' && depth == 0) {
        val prev = if (i > 0) m.charAt(i - 1) else ' '
        val nxt = if (i + 1 < m.length) m.charAt(i + 1) else ' '
        if (prev != '<' && prev != '>' && prev != '!' && prev != '=' &&
          nxt != '=') return i
      }
      i += 1
    }
    -1
  }

  /** Default alias of a possibly dotted/backticked table reference:
    * the LAST identifier part, backticks stripped — the shared
    * MERGE/DML/GROUPS rule (advice r15: aliasing a frame as the raw
    * `db.t` text makes every qualified column unresolvable). Callers
    * validate the result against their own identifier contract.
    */
  private[graft] def defaultAliasOf(name: String): String =
    name.split("\\.").last.replaceAll("`", "")

  /** Comma split at paren depth 0, depth/comma decisions taken on the
    * masked view (commas inside literals, quoted identifiers or comments
    * never split) while the emitted pieces keep the original text.
    */
  private[sql] def splitTopLevel(s: String): Seq[String] = {
    val m = stripLiterals(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < s.length) {
      val mc = m.charAt(i)
      if (mc == '(') depth += 1
      else if (mc == ')') depth -= 1
      if (mc == ',' && depth == 0) { out += cur.toString; cur.clear() }
      else cur.append(s.charAt(i))
      i += 1
    }
    out += cur.toString
    out.toSeq
  }

  /** Cheap pre-test for [[expandColumns]] — lets callers skip schema
    * resolution on the overwhelming majority of statements that carry
    * no dynamic star.
    */
  def hasDynamicColumns(sql: String): Boolean =
    ColumnsRe.findFirstMatchIn(stripLiterals(sql)).isDefined

  /** DuckDB's dynamic star `COLUMNS('regex')`: expand to the receiver
    * columns whose name the regex PARTIALLY matches (DuckDB uses RE2
    * search semantics — `COLUMNS('id')` hits both `event_id` and
    * `user_id`), in schema order. The aggregate-wrapped form
    * `f(COLUMNS('regex'))` — where the COLUMNS call is the SOLE
    * argument — expands to one `f(col) AS col` per hit, which is
    * exactly how DuckDB names those outputs (probed: plain column
    * names, not `f(col)`). No matching column errors loudly, mirroring
    * DuckDB's binder error.
    *
    * r18 extensions beyond the regex literal: the LAMBDA form
    * `COLUMNS(c -> predicate)` — the predicate text evaluates over the
    * column NAMES through Spark itself (a one-column local frame +
    * `expr(pred)`, so LIKE/ILIKE/SIMILAR TO/lower()/length() keep
    * exact SQL semantics; needs the optional `spark`), and the
    * star-modifier form `COLUMNS(*)` / `COLUMNS(* EXCLUDE (a, b))`.
    * Hits always come back in schema order.
    */
  def expandColumns(sql: String, columns: Seq[String],
                    spark: Option[org.apache.spark.sql.SparkSession] =
                      None): String = {
    var cur = sql
    var guard = 0
    while (guard < 64) {
      val masked = stripLiterals(cur)
      val m = ColumnsRe.findFirstMatchIn(masked)
      if (m.isEmpty) return cur
      val open = m.get.end - 1
      val close = matchParenAt(masked, open)
      val arg = cur.substring(open + 1, close).trim
      val argMask = stripLiterals(arg)
      val arrowAt = argMask.indexOf("->")
      val hit: Seq[String] =
        if (arg.startsWith("*")) {
          // star-modifier form: COLUMNS(*) / COLUMNS(* EXCLUDE (a, b))
          val rest = arg.substring(1).trim
          if (rest.isEmpty) columns
          else {
            val rm = stripLiterals(rest)
            require(wordAt(rm, 0, "exclude"),
              s"COLUMNS(* ...) supports only EXCLUDE (cols), got: $rest")
            val o = skipWsAt(rm, 7)
            require(o < rm.length && rm.charAt(o) == '(' &&
              matchParenAt(rm, o) == rm.length - 1,
              s"COLUMNS(* EXCLUDE ...) needs a parenthesized column " +
                s"list, got: $rest")
            val excl = splitTopLevel(rest.substring(o + 1, rest.length - 1))
              .map(_.trim.stripPrefix("`").stripSuffix("`"))
            val unknown = excl.filterNot(e =>
              columns.exists(_.equalsIgnoreCase(e)))
            require(unknown.isEmpty,
              s"COLUMNS(* EXCLUDE ...) names not in the table: " +
                s"${unknown.mkString(", ")}")
            val kept = columns.filterNot(c =>
              excl.exists(_.equalsIgnoreCase(c)))
            require(kept.nonEmpty, "COLUMNS(* EXCLUDE ...) removed " +
              "every column")
            kept
          }
        } else if (arrowAt >= 0) {
          // lambda form: `v -> predicate` — evaluate the predicate over
          // the column NAMES via Spark (exact SQL semantics for LIKE /
          // ILIKE / SIMILAR TO / string functions)
          val v = arg.substring(0, arrowAt).trim
          require(v.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"COLUMNS lambda variable must be a bare identifier, got: $v")
          val pred = arg.substring(arrowAt + 2).trim
          require(pred.nonEmpty, "empty COLUMNS lambda predicate")
          val s = spark.getOrElse(throw new IllegalArgumentException(
            "COLUMNS(c -> ...) needs a bound session — use the regex " +
              "form here"))
          val matched = {
            import org.apache.spark.sql.functions.{expr => sexpr}
            import s.implicits._
            val names = s.createDataset(columns.toList).toDF(v)
            names.where(sexpr(rewriteSimilarGlob(
                s"SELECT 1 WHERE $pred").substring(15)))
              .collect().map(_.getString(0)).toSet
          }
          val sel = columns.filter(matched.contains)
          require(sel.nonEmpty,
            s"no columns satisfy the COLUMNS lambda predicate: $pred")
          sel
        } else {
          require(arg.length >= 2 && arg.head == '\'' && arg.last == '\'' &&
            !arg.substring(1, arg.length - 1).contains('\''),
            s"COLUMNS(...) supports a quoted regex literal, a lambda " +
              s"`c -> pred`, or `* [EXCLUDE (...)]`, got: $arg")
          val re = arg.substring(1, arg.length - 1)
          val p = java.util.regex.Pattern.compile(re)
          val h = columns.filter(c => p.matcher(c).find())
          require(h.nonEmpty,
            s"""no matching columns found that match regex "$re"""")
          h
        }
      // wrapped form: an enclosing call whose ONLY argument is this
      // COLUMNS(...) — identifier '(' COLUMNS(...) ')'
      var a = m.get.start - 1
      while (a >= 0 && masked.charAt(a).isWhitespace) a -= 1
      var wrapped = false
      var wStart = 0
      var wClose = 0
      if (a >= 0 && masked.charAt(a) == '(') {
        var b = a - 1
        while (b >= 0 && masked.charAt(b).isWhitespace) b -= 1
        val idEnd = b + 1
        while (b >= 0 && isIdentBoundaryChar(masked.charAt(b))) b -= 1
        var f = close + 1
        while (f < masked.length && masked.charAt(f).isWhitespace) f += 1
        // the preceding identifier must be a FUNCTION name, not a SQL
        // keyword opening its own parenthesized expression — otherwise
        // `SELECT (COLUMNS('re'))` or `x IN (COLUMNS('re'))` would be
        // garbled into `SELECT(c) AS c, ...` (review-caught)
        val ident = masked.substring(b + 1, idEnd).toLowerCase
        if (idEnd > b + 1 && f < masked.length && masked.charAt(f) == ')' &&
            !ColumnsWrapperKeywords(ident)) {
          wrapped = true; wStart = b + 1; wClose = f
          // a trailing alias on the wrapper (min(COLUMNS('re')) AS x)
          // would otherwise rewrite to `min(a) AS a, min(b) AS b AS x` —
          // a baffling downstream parse error; the expansion names each
          // output by its plain column name (DuckDB's naming), so an
          // outer alias has no well-defined meaning here. Reject loudly.
          var t = f + 1
          while (t < masked.length && masked.charAt(t).isWhitespace) t += 1
          if (t < masked.length &&
              (masked.charAt(t) == '`' || masked.charAt(t).isLetter ||
                masked.charAt(t) == '_')) {
            var te = t
            while (te < masked.length && isIdentBoundaryChar(masked.charAt(te)))
              te += 1
            val word = masked.substring(t, te).toLowerCase
            require(ColumnsTrailingKeywords(word),
              "wrapped COLUMNS(...) cannot take an outer alias — the " +
                "expansion names each output by its source column; alias " +
                "per-column instead (e.g. project after the expansion)")
          }
        }
      }
      cur =
        if (wrapped) {
          val fn = cur.substring(wStart, cur.indexOf('(', wStart)).trim
          cur.substring(0, wStart) +
            hit.map(c => s"$fn(`$c`) AS `$c`").mkString(", ") +
            cur.substring(wClose + 1)
        } else {
          cur.substring(0, m.get.start) +
            hit.map(c => s"`$c`").mkString(", ") +
            cur.substring(close + 1)
        }
      guard += 1
    }
    require(ColumnsRe.findFirstMatchIn(stripLiterals(cur)).isEmpty,
      s"more than $guard COLUMNS(...) occurrences in one statement")
    cur
  }

  private val ColumnsRe = """(?is)(?<![A-Za-z0-9_.])columns\s*\(""".r

  // clause keywords that may legitimately follow a wrapped COLUMNS
  // expansion in a select list — anything else after the wrapper's ')'
  // is a (rejected) outer alias. Besides clause heads this includes
  // expression continuations (OVER, IS, NOT, IN, BETWEEN, LIKE, AT,
  // FILTER, COLLATE) and sort modifiers (ASC/DESC/NULLS): a wrapped
  // expansion inside a larger expression or ORDER BY item is legal and
  // must not be misread as an outer alias (advice r14).
  private val ColumnsTrailingKeywords: Set[String] = Set(
    "from", "where", "group", "order", "having", "qualify", "union",
    "intersect", "except", "limit", "offset", "window", "and", "or",
    "when", "then", "else", "end", "over", "is", "not", "in", "between",
    "like", "ilike", "rlike", "at", "filter", "collate", "asc", "desc",
    "nulls", "escape")

  // identifiers before '(' that are SQL syntax, never a wrapping function
  private val ColumnsWrapperKeywords: Set[String] = Set(
    "select", "where", "in", "and", "or", "on", "when", "then", "else",
    "by", "from", "join", "having", "qualify", "union", "all", "distinct",
    "as", "between", "not", "case", "group", "order", "limit", "offset",
    "window", "exists", "values", "using", "over", "partition")

  /** DuckDB's `UNION [ALL] BY NAME`: Spark's parser has no grammar for
    * it, so the dialect splits the statement at the top-level BY NAME
    * operators and the caller folds the operand frames with
    * `Dataset.unionByName(allowMissingColumns = true)` — which matches
    * DuckDB exactly (probed: result columns are the first operand's, in
    * order, then each later operand's new names appended; missing slots
    * fill with NULL). Returns the operand texts (outer parens
    * stripped), the per-operator ALL flags (`flags(i)` governs the fold
    * of `operands(i + 1)`; a bare BY NAME dedups the accumulated result,
    * SQL's left-associative set-op semantics), and the trailing
    * ORDER BY / LIMIT / OFFSET clause, which binds to the WHOLE union.
    * None when the statement has no top-level BY NAME operator.
    *
    * Guardrails: mixing BY NAME with positional set operators at the
    * same nesting level is rejected (operand slicing would silently
    * reassociate them), as is a leading WITH (splitting would sever the
    * CTE's scope from the later operands) — both error loudly rather
    * than mis-execute. Parenthesized operands keep their own inner set
    * operators; only depth-0 text splits.
    */
  def splitUnionByName(sql: String)
      : Option[(Seq[String], Seq[Boolean], String)] = {
    val m = stripLiterals(sql)
    def skipWs(k0: Int): Int = {
      var k = k0
      while (k < m.length && m.charAt(k).isWhitespace) k += 1
      k
    }
    def word(k: Int, w: String): Boolean = wordAt(m, k, w)
    case class Hit(start: Int, end: Int, all: Boolean)
    val hits = scala.collection.mutable.ArrayBuffer.empty[Hit]
    var plain = false
    var u = findTopLevelKeywordIn(m, 0, "union")
    while (u >= 0) {
      var j = skipWs(u + 5)
      var all = false
      if (word(j, "all")) { all = true; j = skipWs(j + 3) }
      if (word(j, "by") && word(skipWs(j + 2), "name"))
        hits += Hit(u, skipWs(j + 2) + 4, all)
      else plain = true
      u = findTopLevelKeywordIn(m, u + 5, "union")
    }
    if (hits.isEmpty) return None
    require(!plain && findTopLevelKeywordIn(m, 0, "intersect") < 0 &&
      findTopLevelKeywordIn(m, 0, "except") < 0,
      "UNION BY NAME cannot mix with positional set operators at the " +
        "same nesting level — parenthesize the positional arm")
    require(!word(skipWs(0), "with"),
      "UNION BY NAME under a WITH clause is not supported — inline the CTE")
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]
    var prev = 0
    hits.foreach { h => ops += sql.substring(prev, h.start); prev = h.end }
    val lastSeg = sql.substring(prev)
    val lastMask = m.substring(prev)
    val cutCands = Seq("order", "limit", "offset")
      .map(k => findTopLevelKeywordIn(lastMask, 0, k)).filter(_ >= 0)
    val cut = if (cutCands.isEmpty) lastSeg.length else cutCands.min
    ops += lastSeg.substring(0, cut)
    val tail = lastSeg.substring(cut).trim
    Some((ops.toSeq.map(stripOuterParens), hits.map(_.all).toSeq, tail))
  }

  /** Strip balanced outermost parens (repeatedly): `(SELECT ...)` is a
    * valid set-op operand but not a statement Spark's parser accepts.
    */
  private def stripOuterParens(s: String): String = {
    val t = s.trim
    if (t.length < 2 || t.head != '(' || t.last != ')') return t
    val masked = stripLiterals(t)
    var depth = 0
    var i = 0
    while (i < t.length - 1) {
      val c = masked.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) return t }
      i += 1
    }
    stripOuterParens(t.substring(1, t.length - 1))
  }

  /** Window-frame EXCLUDE clause (w12): DuckDB executes
    * `agg(x) OVER (… EXCLUDE CURRENT ROW | GROUP | TIES | NO OTHERS)`;
    * Spark has no frame exclusion. Rewrite as window ALGEBRA over the
    * same spec: full-frame aggregate minus the excluded slice, where the
    * slice is the current row (CURRENT ROW), the current row's full peer
    * group (GROUP — one extra `RANGE BETWEEN CURRENT ROW AND CURRENT
    * ROW` window, whose frame is exactly the peers), or peers minus the
    * current row (TIES). `NO OTHERS` just drops the clause. Exact for
    * SUM/COUNT/AVG over exact types (integer/decimal — the fixture
    * discipline; float subtraction would drift from a direct sum), with
    * the empty-after-exclusion frame yielding NULL via a count guard,
    * matching the standard. MIN/MAX and DISTINCT aggregates split the
    * frame around the slice instead.
    *
    * Runs after [[inlineChainedWindows]] (named windows carrying EXCLUDE
    * arrive inlined) and [[rewriteWindowFilter]] (FILTER arrives folded
    * into the call). Loud refusals, never silent mis-execution:
    * non-decomposable aggregates (median/…), frames that may not CONTAIN
    * the excluded slice (start FOLLOWING / end PRECEDING; ROWS frames
    * under GROUP/TIES unless unbounded-both-ends — a ROWS frame can cut
    * a peer group and subtraction would over-subtract), GROUP/TIES
    * without ORDER BY, and an EXCLUDE no OVER specification reaches.
    */
  def rewriteWindowExclude(sql: String): String = {
    if (findAnyDepthKeyword(stripLiterals(sql), "exclude") < 0) return sql
    val cur = rewriteEach(sql, "EXCLUDE clauses")(
      _.spec.exists(_.exclude >= 0))(rewriteOneExclude)
    // an EXCLUDE no OVER specification reaches — e.g. in a WINDOW
    // definition the named-window inliner has not run over — must
    // refuse, not silently keep rows
    val m = stripLiterals(cur)
    var i = 0
    var depth = 0
    while (i < m.length) {
      val c = m.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth >= 1 && wordAt(m, i, "exclude")) {
        val k = skipWsAt(m, i + 7)
        if (wordAt(m, k, "current") || wordAt(m, k, "group") ||
          wordAt(m, k, "ties") || wordAt(m, k, "no"))
          throw new IllegalArgumentException(
            "window EXCLUDE is supported only in an OVER specification " +
              "directly after an aggregate call (named WINDOW " +
              "definitions inline automatically) — restructure the " +
              "expression")
      }
      i += 1
    }
    cur
  }

  /** q67: DuckDB's ordered-aggregate spelling — `agg(args ORDER BY
    * keys)` carries the sort INSIDE the argument list. Spark wants
    * WITHIN GROUP (string_agg/listagg) or has no ordered variant at all
    * (array_agg / DuckDB's list), so:
    *
    *   string_agg/listagg(x [, sep] ORDER BY keys)
    *     → listagg(x, sep) WITHIN GROUP (ORDER BY keys)   — native,
    *       any key direction (separator defaults to ',', DuckDB's)
    *   array_agg/list(x ORDER BY k1 [, k2 …])
    *     → transform(array_sort(collect_list(struct(k1 AS __o0, …,
    *         (x) AS __ov))), __oa -> __oa.__ov)
    *       — struct field order IS the sort order; DESC / NULLS
    *       modifiers refuse loudly (struct comparison is ASC with
    *       nulls-first, where DuckDB sorts nulls last — a NULL sort
    *       key would silently diverge, documented).
    */
  def rewriteOrderedAggs(sql: String): String = {
    val pre = stripLiterals(sql)
    if (findAnyDepthKeyword(pre, "order") < 0) return sql
    val names = Seq("string_agg", "listagg", "array_agg", "list")
    var cur = sql
    var guard = 0
    var more = true
    while (more && guard < 64) {
      more = false
      val m = stripLiterals(cur)
      var i = 0
      while (!more && i < m.length) {
        names.find(n => wordAt(m, i, n)) match {
          case Some(fn) =>
            val k = skipWsAt(m, i + fn.length)
            if (k < m.length && m.charAt(k) == '(') {
              val close = matchParenAt(m, k)
              val argsMask = m.substring(k + 1, close)
              val ob = findTopLevelKeywordIn(argsMask, 0, "order")
              val byOk = ob >= 0 && {
                val b = skipWsAt(argsMask, ob + 5)
                b + 2 <= argsMask.length &&
                  argsMask.regionMatches(true, b, "by", 0, 2)
              }
              if (byOk) {
                val argsRaw = cur.substring(k + 1, close)
                val head = argsRaw.substring(0, ob).trim
                val byPos = skipWsAt(argsMask, ob + 5) + 2
                val keys = argsRaw.substring(byPos).trim
                require(head.nonEmpty && keys.nonEmpty,
                  s"malformed ordered aggregate: $fn(${argsRaw.take(40)})")
                val headMask = stripLiterals(head)
                val dPos = findTopLevelKeywordIn(headMask, 0, "distinct")
                val out =
                  if (dPos >= 0) {
                    require(skipWsAt(headMask, 0) == dPos,
                      s"malformed DISTINCT argument list: ${head.take(40)}")
                    distinctOrderedAgg(fn, head.substring(dPos + 8).trim,
                      keys)
                  }
                  else if (fn == "string_agg" || fn == "listagg") {
                    val parts = splitTopLevel(head).map(_.trim)
                    require(parts.size <= 2,
                      s"$fn() takes (expr [, separator] ORDER BY …), " +
                        s"got ${parts.size} arguments")
                    val sep = if (parts.size == 2) parts(1) else "','"
                    s"listagg(${parts.head}, $sep) WITHIN GROUP " +
                      s"(ORDER BY $keys)"
                  } else {
                    require(splitTopLevel(head).size == 1,
                      s"$fn() takes one expression before ORDER BY")
                    val ks = splitTopLevel(keys).map(_.trim)
                    ks.foreach { kx =>
                      val km = stripLiterals(kx)
                      Seq("desc", "nulls").foreach { bad =>
                        require(findTopLevelKeywordIn(km, 0, bad) < 0,
                          s"$fn(… ORDER BY …) supports ASC keys only — " +
                            "the struct-sort lowering has no key " +
                            "direction; use string_agg/listagg or sort " +
                            "downstream")
                      }
                    }
                    // strip an optional ASC suffix per key
                    val cleaned = ks.map { kx =>
                      val km = stripLiterals(kx)
                      val a = findTopLevelKeywordIn(km, 0, "asc")
                      if (a >= 0 && skipWsAt(km, a + 3) >= km.length)
                        kx.substring(0, a).trim
                      else kx
                    }
                    val fields = cleaned.zipWithIndex
                      .map { case (kx, ix) => s"($kx) AS __o$ix" }
                      .mkString(", ")
                    s"transform(array_sort(collect_list(struct($fields," +
                      s" ($head) AS __ov))), __oa -> __oa.__ov)"
                  }
                cur = cur.substring(0, i) + out + cur.substring(close + 1)
                more = true
              } else i += 1
            } else i += 1
          case None => i += 1
        }
      }
      guard += 1
    }
    require(!more, "more than 63 ordered aggregates in one statement")
    cur
  }

  /** q67 extension (r18): DISTINCT inside an ordered aggregate —
    * `string_agg(DISTINCT x [, sep] ORDER BY x [DESC])` and
    * `array_agg/list(DISTINCT x ORDER BY x [DESC])`. Legal in
    * DuckDB/Postgres ONLY when the sort key IS the DISTINCT argument
    * (Postgres: "in an aggregate with DISTINCT, ORDER BY expressions
    * must appear in argument list" — a non-argument key has no defined
    * value per deduplicated element); that restriction is exactly what
    * makes the lowering deterministic: collect_set + array_sort is
    * order-free, and DESC is legal here (reverse of the sorted set)
    * where the non-DISTINCT struct-sort path must refuse it. NULL
    * handling matches the aggregate family: string_agg skips NULLs in
    * both engines; collect_set drops them for array_agg too (DuckDB's
    * list would keep one trailing NULL — divergence documented, refuse
    * nothing: the deduplicated-NULL case is the q67 fixture
    * discipline's non-case). Empty set → NULL (string_agg semantics,
    * size-guarded — array_join alone would yield '').
    */
  private def distinctOrderedAgg(fn: String, bare: String,
                                 keys: String): String = {
    require(bare.nonEmpty, s"$fn(DISTINCT) needs an argument")
    val ks = splitTopLevel(keys).map(_.trim)
    require(ks.size == 1,
      s"$fn(DISTINCT … ORDER BY …) takes ONE sort key — and it must be " +
        "the DISTINCT argument itself")
    // optional trailing ASC/DESC; NULLS modifiers refuse (the set never
    // contains NULL, so a placement directive would silently no-op)
    val k0 = ks.head
    val km = stripLiterals(k0)
    require(findTopLevelKeywordIn(km, 0, "nulls") < 0,
      s"$fn(DISTINCT … ORDER BY … NULLS …) is not supported — the " +
        "deduplicated set contains no NULLs to place")
    val descPos = findTopLevelKeywordIn(km, 0, "desc")
    val ascPos = findTopLevelKeywordIn(km, 0, "asc")
    val desc = descPos >= 0 && skipWsAt(km, descPos + 4) >= km.length
    val keyExpr =
      if (desc) k0.substring(0, descPos).trim
      else if (ascPos >= 0 && skipWsAt(km, ascPos + 3) >= km.length)
        k0.substring(0, ascPos).trim
      else k0.trim
    def norm(s: String) = s.replaceAll("\\s+", " ").trim
    val (argExpr, sep) =
      if (fn == "string_agg" || fn == "listagg") {
        val parts = splitTopLevel(bare).map(_.trim)
        require(parts.size <= 2,
          s"$fn() takes (DISTINCT expr [, separator] ORDER BY …), got " +
            s"${parts.size} arguments")
        (parts.head, if (parts.size == 2) Some(parts(1)) else Some("','"))
      } else {
        require(splitTopLevel(bare).size == 1,
          s"$fn() takes one expression before ORDER BY")
        (bare, None)
      }
    require(norm(keyExpr).equalsIgnoreCase(norm(argExpr)),
      s"in $fn(DISTINCT …), the ORDER BY expression must be the " +
        s"DISTINCT argument itself (got key '$keyExpr' for argument " +
        s"'$argExpr') — the Postgres/DuckDB rule: a non-argument key " +
        "has no defined value per deduplicated element")
    val sorted =
      if (desc) s"reverse(array_sort(collect_set($argExpr)))"
      else s"array_sort(collect_set($argExpr))"
    sep match {
      case Some(s) =>
        // empty set → NULL, string_agg's semantics (array_join → '')
        s"(CASE WHEN size(collect_set($argExpr)) = 0 THEN " +
          s"CAST(NULL AS STRING) ELSE array_join($sorted, $s) END)"
      case None => sorted
    }
  }

  /** q68: `expr SIMILAR TO '<regex>'` and `expr GLOB '<glob>'` pattern
    * operators (DuckDB/Postgres grammar; Spark has neither). DuckDB's
    * SIMILAR TO is a FULL-string regex match with NO `%`/`_` conversion
    * (probed: 'banana' SIMILAR TO 'ban%' is FALSE), so it lowers
    * exactly onto `RLIKE '^(?:<regex>)$'`; GLOB translates the unix
    * glob (`*` `?` `[...]`/`[!...]`, other regex specials escaped) into
    * the same anchored RLIKE. A preceding NOT stays in place — Spark
    * accepts `NOT RLIKE`. Backslashes in the emitted literal DOUBLE:
    * Spark processes string-literal escapes where DuckDB does not, so
    * '\d' must re-emit as '\\d' to reach the regex engine intact. The
    * pattern must be a quoted literal: SIMILAR TO refuses loudly on
    * anything else (committed by its TO), while a bare `glob` not
    * followed by a literal is left alone (it may be an identifier).
    */
  def rewriteSimilarGlob(sql: String): String = {
    val pre = stripLiterals(sql)
    if (findAnyDepthKeyword(pre, "similar") < 0 &&
      findAnyDepthKeyword(pre, "glob") < 0) return sql
    var cur = sql
    var guard = 0
    var more = true
    while (more && guard < 64) {
      more = false
      val m = stripLiterals(cur)
      var i = 0
      while (!more && i < m.length) {
        val isSim = wordAt(m, i, "similar")
        val isGlob = !isSim && wordAt(m, i, "glob")
        if (isSim || isGlob) {
          val j0 = skipWsAt(m, i + (if (isSim) 7 else 4))
          // position right AFTER the operator keywords; the literal that
          // follows is BLANK on the mask, so the final whitespace hop
          // must walk the RAW text (mask-skipping would sail through it)
          val after =
            if (isSim) { if (wordAt(m, j0, "to")) j0 + 2 else -1 }
            else i + 4
          // SIMILAR not followed by TO is an identifier — skip
          if (after >= 0) {
            var k = after
            while (k < cur.length && cur.charAt(k).isWhitespace) k += 1
            val hasLit = k < cur.length && cur.charAt(k) == '\'' &&
              k < m.length && m.charAt(k) == ' '
            if (isSim) require(hasLit,
              "SIMILAR TO supports a quoted literal pattern — compute " +
                "dynamic patterns with rlike() directly")
            if (hasLit) {
              val (lit, after2) = scanQuoted(cur, k, "pattern")
              // re-double quotes for the emitted literal; backslashes
              // double for Spark's literal-escape layer
              val rx = (if (isSim) lit.replace("\\", "\\\\")
                        else globToRegex(lit)).replace("'", "''")
              cur = cur.substring(0, i) + s"RLIKE '^(?:$rx)$$'" +
                cur.substring(after2)
              more = true
            }
          }
        }
        i += 1
      }
      guard += 1
    }
    require(!more, "more than 63 pattern operators in one statement")
    cur
  }

  /** r18: DuckDB's power operator `a ** b` → `power(a, b)` (Spark has
    * the function, not the operator). Probed DuckDB rules: LEFT-
    * associative (`2 ** 3 ** 2` = 64 — leftmost-first restart yields
    * power(power(2,3),2) naturally) and binds LOOSER than unary minus
    * (`-2 ** 2` = 4), so a leading sign that is genuinely unary (no
    * expression ends before it) absorbs into the left operand.
    * Operands are number/identifier runs or paren/bracket groups
    * (with a preceding function name); anything else leaves the text
    * for the parser's own error.
    */
  def rewritePowerOp(sql: String): String = {
    if (!sql.contains("**")) return sql
    var cur = sql
    var guard = 0
    var more = true
    while (more && guard < 64) {
      more = false
      val m = stripLiterals(cur)
      var i = 0
      while (!more && i + 1 < m.length) {
        if (m.charAt(i) == '*' && m.charAt(i + 1) == '*') {
          // ---- left operand ----
          var p = i - 1
          while (p >= 0 && m.charAt(p).isWhitespace) p -= 1
          var s = p
          var ok = p >= 0
          if (ok) m.charAt(p) match {
            case ')' | ']' =>
              val closeC = m.charAt(p)
              val openC = if (closeC == ')') '(' else '['
              var bd = 0
              while (s >= 0 && {
                val cc = m.charAt(s)
                if (cc == closeC) bd += 1
                else if (cc == openC) bd -= 1
                bd != 0 || cc != openC
              }) s -= 1
              if (s < 0) ok = false
              else {
                s -= 1 // an optional function name before the group
                while (s >= 0 && (m.charAt(s).isLetterOrDigit ||
                  m.charAt(s) == '_')) s -= 1
              }
            case c if c.isLetterOrDigit || c == '_' || c == '.' =>
              while (s >= 0 && {
                val cc = m.charAt(s)
                cc.isLetterOrDigit || cc == '_' || cc == '.' || cc == '$'
              }) s -= 1
            case _ => ok = false
          }
          if (ok) {
            var start = s + 1
            // absorb a UNARY sign (DuckDB: ** binds looser than unary
            // minus): unary iff no expression ends right before it
            var u = start - 1
            while (u >= 0 && m.charAt(u).isWhitespace) u -= 1
            if (u >= 0 && (m.charAt(u) == '-' || m.charAt(u) == '+')) {
              var b = u - 1
              while (b >= 0 && m.charAt(b).isWhitespace) b -= 1
              // an expression ends before the sign → binary; a bare
              // KEYWORD there (SELECT -2 ** 2, WHERE …, THEN …) does
              // not end an expression — the sign is unary
              val binary = b >= 0 && {
                val c = m.charAt(b)
                if (c == ')' || c == ']' || c == '\'' || c == '"') true
                else if (c.isLetterOrDigit || c == '_') {
                  var ws = b
                  while (ws >= 0 && {
                    val cc = m.charAt(ws)
                    cc.isLetterOrDigit || cc == '_'
                  }) ws -= 1
                  val word = m.substring(ws + 1, b + 1).toLowerCase
                  !SubscriptKeywordStops(word)
                } else false
              }
              if (!binary) start = u
            }
            // ---- right operand ----
            var r = i + 2
            while (r < m.length && m.charAt(r).isWhitespace) r += 1
            val rStart = r
            if (r < m.length && (m.charAt(r) == '-' || m.charAt(r) == '+'))
              r += 1
            while (r < m.length && m.charAt(r).isWhitespace) r += 1
            var rEnd = -1
            if (r < m.length) {
              val c = m.charAt(r)
              if (c == '(') rEnd = matchParenAt(m, r)
              else if (c.isLetterOrDigit || c == '_' || c == '.') {
                var e = r
                while (e < m.length && {
                  val cc = m.charAt(e)
                  cc.isLetterOrDigit || cc == '_' || cc == '.' || cc == '$'
                }) e += 1
                // a function call: ident directly followed by '('
                if (e < m.length && m.charAt(e) == '(')
                  rEnd = matchParenAt(m, e)
                else rEnd = e - 1
              }
            }
            if (rEnd >= 0 && start <= p) {
              val lhs = cur.substring(start, p + 1).trim
              val rhs = cur.substring(rStart, rEnd + 1).trim
              cur = cur.substring(0, start) + s"power($lhs, $rhs)" +
                cur.substring(rEnd + 1)
              more = true
            }
          }
        }
        i += 1
      }
      guard += 1
    }
    require(!more, "more than 63 ** operators in one statement")
    cur
  }

  /** r18: DuckDB's FROM-position series table functions — `FROM
    * range(…)` (stop-EXCLUSIVE, output column `range`) and `FROM
    * generate_series(…)` (stop-INCLUSIVE, column `generate_series`).
    * `range` lowers onto Spark's native range TVF with the column
    * aliased (`id` → `range`); `generate_series` lowers onto an
    * explode of the engine's GUARDED scalar generate_series (q65 —
    * empty array on an unreachable stop → zero rows, exactly DuckDB's
    * off-happy-path behavior). Only table position (directly after
    * FROM or a JOIN keyword) rewrites; scalar calls elsewhere keep
    * their existing lowering. Trailing table/column aliases
    * (`range(5) t(n)`) ride on the emitted derived table.
    */
  def rewriteSeriesTvf(sql: String): String = {
    // single left-to-right pass over the INPUT (the emitted derived
    // table itself contains `FROM range(…)` — a rescan would loop)
    val m = stripLiterals(sql)
    val sb = new StringBuilder
    var i = 0
    while (i < m.length) {
      if (wordAt(m, i, "from") || wordAt(m, i, "join")) {
        val k = skipWsAt(m, i + 4)
        val (fn, flen) =
          if (wordAt(m, k, "range")) ("range", 5)
          else if (wordAt(m, k, "generate_series"))
            ("generate_series", 15)
          else ("", 0)
        if (fn.nonEmpty && k + flen < m.length &&
          m.charAt(k + flen) == '(') {
          val close = matchParenAt(m, k + flen)
          val args = sql.substring(k + flen + 1, close)
          val derived =
            if (fn == "range")
              s"(SELECT id AS range FROM range($args))"
            else
              s"(SELECT explode(generate_series($args)) " +
                "AS generate_series)"
          sb.append(sql.substring(i, k)).append(derived)
          i = close + 1
        } else {
          sb.append(sql.charAt(i)); i += 1
        }
      } else {
        sb.append(sql.charAt(i)); i += 1
      }
    }
    sb.toString
  }

  /** r18: DuckDB's dot-call function chaining — `recv.fn(args)` is
    * `fn(recv, args)` (`[1,2,3].list_sum()`, `(s).string_split(' ')
    * .len()`). The receiver is a dotted identifier chain or a
    * `)`-/`]`-terminated group (walked back like a subscript
    * receiver); a bare string literal receiver is DuckDB's OWN parser
    * error (probed: `'abc'.upper()` refuses there too — parenthesize),
    * and `ident.ident` WITHOUT a call stays a qualified column.
    * Chains re-enter leftmost-first, so `a.f(x).g()` lowers inside
    * out. Runs AFTER the literal/subscript passes (their outputs are
    * paren groups this pass accepts as receivers) and after the
    * np.* namespace map (no `np.` receiver survives to here).
    */
  def rewriteDotCalls(sql: String): String = {
    if (sql.indexOf('.') < 0) return sql
    var cur = sql
    var guard = 0
    var more = true
    while (more && guard < 128) {
      more = false
      val m = stripLiterals(cur)
      var i = 0
      while (!more && i < m.length) {
        if (m.charAt(i) == '.' && i + 1 < m.length &&
          isIdentStart(m.charAt(i + 1))) {
          // STRICT ident walk — isIdentChar counts '.' (qualified-name
          // scans elsewhere), but the fn name of a dot-call must stop
          // at the next dot so chains lower one link at a time
          var e = i + 1
          while (e < m.length && {
            val c = m.charAt(e)
            c.isLetterOrDigit || c == '_'
          }) e += 1
          val callOpen = e
          // a TIGHT '(' only — `x.f (…)` stays a qualified name plus
          // parenthesized expression for the parser to judge
          if (callOpen < m.length && m.charAt(callOpen) == '(') {
            // receiver end: char before '.' must close an expression
            val p = i - 1
            if (p >= 0 && {
              val c = m.charAt(p)
              c.isLetterOrDigit || c == '_' || c == '$' || c == ')' ||
                c == ']'
            }) {
              // walk back over ident runs / () [] groups, chaining
              // through '.' qualifiers (the subscript-receiver walk)
              var s = p
              var cont = true
              var ok = true
              while (cont && s >= 0 && ok) {
                val c = m.charAt(s)
                if (c == ')' || c == ']') {
                  val openC = if (c == ')') '(' else '['
                  var bd = 0
                  while (s >= 0 && {
                    val cc = m.charAt(s)
                    if (cc == c) bd += 1
                    else if (cc == openC) bd -= 1
                    bd != 0 || cc != openC
                  }) s -= 1
                  if (s < 0) ok = false
                  else s -= 1 // a function name may precede
                } else if (c.isLetterOrDigit || c == '_' || c == '$') {
                  while (s >= 0 && {
                    val cc = m.charAt(s)
                    cc.isLetterOrDigit || cc == '_' || cc == '$'
                  }) s -= 1
                  if (s >= 0 && m.charAt(s) == '.') s -= 1
                  else cont = false
                } else cont = false
              }
              val start = s + 1
              val recv = if (ok) cur.substring(start, p + 1).trim else ""
              // a pure-numeric receiver is a decimal literal's dot,
              // not a call chain ("1.5" never reaches here — the fn
              // ident can't start with a digit — but "(1).f()" does
              // and is legal)
              if (ok && recv.nonEmpty && !recv.forall(_.isDigit)) {
                val close = matchParenAt(m, callOpen)
                val args = cur.substring(callOpen + 1, close).trim
                val fn = cur.substring(i + 1, e)
                val call =
                  if (args.isEmpty) s"$fn($recv)"
                  else s"$fn($recv, $args)"
                cur = cur.substring(0, start) + call +
                  cur.substring(close + 1)
                more = true
              }
            }
          }
        }
        i += 1
      }
      guard += 1
    }
    require(!more, "more than 127 dot-calls in one statement")
    cur
  }

  /** r18: DuckDB spells IGNORE/RESPECT NULLS INSIDE the window
    * function's argument list (`lag(b IGNORE NULLS) OVER …`) while
    * Spark's grammar wants it OUTSIDE (`lag(b) IGNORE NULLS OVER …`)
    * — and each parser refuses the other's spelling (both probed).
    * This pass moves the trailing in-parens keyword out: the token
    * must be the LAST thing before the call's `)`, anything else is
    * left for the parser. Which functions accept the modifier stays
    * each engine's own analysis error (Spark: lead/lag/first/last/
    * nth_value/any_value).
    */
  def rewriteIgnoreNulls(sql: String): String = {
    var cur = sql
    var guard = 0
    var more = true
    while (more && guard < 64) {
      more = false
      val m = stripLiterals(cur)
      var i = 0
      while (!more && i < m.length) {
        val isIgn = wordAt(m, i, "ignore")
        if (isIgn || wordAt(m, i, "respect")) {
          val wlen = if (isIgn) 6 else 7
          val k = skipWsAt(m, i + wlen)
          if (wordAt(m, k, "nulls")) {
            val j = skipWsAt(m, k + 5)
            if (j < m.length && m.charAt(j) == ')') {
              val kw = if (isIgn) "IGNORE" else "RESPECT"
              cur = cur.substring(0, i).stripTrailing() + ") " + kw +
                " NULLS" + cur.substring(j + 1)
              more = true
            }
          }
        }
        i += 1
      }
      guard += 1
    }
    require(!more, "more than 63 IGNORE/RESPECT NULLS in one statement")
    cur
  }

  /** r18: DuckDB's trailing-comma tolerance, probed cell by cell —
    * a dangling `,` is LEGAL before a clause keyword (`SELECT a, FROM`,
    * `GROUP BY a, ORDER BY`), inside list/struct literals
    * (`[1, 2, 3,]`, `{'a': 1,}`), and in an IN list (`IN (1, 2,)`) —
    * but NOT in ordinary function arguments (`concat(a, b,)` is
    * DuckDB's own parser error) nor at end of input. This pass removes
    * exactly the legal commas and leaves the illegal ones for the
    * parser to refuse, keeping error parity. Runs BEFORE the literal
    * rewrites (a kept comma would otherwise reach `array(1, 2, 3,)`).
    */
  def stripTrailingCommas(sql: String): String = {
    if (sql.indexOf(',') < 0) return sql
    val keywords = Set("from", "group", "order", "having", "window",
      "qualify", "limit", "offset", "union", "except", "intersect",
      "returning", "into", "where")
    val sb = new StringBuilder
    val m = stripLiterals(sql)
    var i = 0
    while (i < m.length) {
      if (m.charAt(i) == ',') {
        // advance over RAW whitespace only — a masked literal reads as
        // blanks on the mask, and `, 'lit'` must keep its comma
        var j = i + 1
        while (j < m.length && sql.charAt(j).isWhitespace) j += 1
        val drop =
          if (j >= m.length) false // end of input: DuckDB refuses too
          else if (m.charAt(j).isWhitespace) false // literal follows
          else m.charAt(j) match {
            case ']' | '}' => true // list / struct literal
            case ')' =>
              // only an IN list tolerates `, )` — walk to the matching
              // open paren and check the preceding word (fn args keep
              // DuckDB's own refusal)
              var d = 0
              var k = j
              while (k >= 0 && {
                val c = m.charAt(k)
                if (c == ')') d += 1
                else if (c == '(') d -= 1
                d != 0 || c != '('
              }) k -= 1
              var w = k - 1
              while (w >= 0 && m.charAt(w).isWhitespace) w -= 1
              w >= 1 && wordAt(m, w - 1, "in")
            case c if c.isLetter || c == '_' =>
              var e = j
              while (e < m.length && (m.charAt(e).isLetterOrDigit ||
                m.charAt(e) == '_')) e += 1
              keywords(m.substring(j, e).toLowerCase)
            case _ => false
          }
        if (!drop) sb.append(sql.charAt(i))
      } else sb.append(sql.charAt(i))
      i += 1
    }
    sb.toString
  }

  /** Unix glob → anchored-regex body: `*` `?` translate, `[...]`
    * passes as a class (`[!…]` negates), every other regex special
    * escapes. Backslashes double for Spark's literal-escape layer.
    */
  private def globToRegex(g: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < g.length) {
      g.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          val close = g.indexOf(']', i + 1)
          require(close > i, s"unterminated [class] in GLOB pattern: $g")
          val inner = g.substring(i + 1, close)
          val body =
            if (inner.startsWith("!")) "^" + inner.substring(1) else inner
          sb.append('[').append(body.replace("\\", "\\\\")).append(']')
          i = close
        case c if "\\.^$+(){}|".indexOf(c) >= 0 =>
          sb.append("\\\\").append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** q69: 1-based bracket subscripts. DuckDB/Postgres `arr[1]` is the
    * FIRST element; the same text unrewritten reaches Spark's 0-based
    * subscript and silently returns the SECOND — the one surface where
    * same-text SQL could disagree with the oracle without erroring.
    * Every bracket subscript whose receiver is an identifier, qualified
    * name, function call, parenthesized expression, or chained
    * subscript lowers onto `try_element_at(recv, idx)` — 1-based,
    * negative-from-end, NULL out of bounds: exactly DuckDB's
    * list_extract semantics (the `functions/Registry.scala`
    * list_extract precedent). A literal `0` index becomes a typed NULL
    * index (DuckDB: `l[0]` IS NULL; Spark throws on index 0 even in
    * try mode). Map subscripts `m['k']` take the same path —
    * try_element_at is key lookup there, NULL on a missing key
    * (DuckDB's behavior; Spark's ANSI subscript throws). Slices
    * `arr[b:e]` (either bound omittable, negative counts from the end,
    * out-of-range clamps — DuckDB's rules) lower onto
    * slice(arr, start, length) with the normalize/clamp arithmetic
    * spelled out. `[` after anything else (array literals `[1,2,3]`,
    * quoted-identifier receivers) is left for Spark's parser to refuse
    * loudly, and a bracket group with a top-level comma is never a
    * subscript.
    */
  def rewriteSubscripts(sql: String): String = {
    if (sql.indexOf('[') < 0) return sql
    var cur = sql
    var guard = 0
    var more = true
    while (more && guard < 256) {
      more = false
      val m = stripLiterals(cur)
      var i = 0
      while (!more && i < m.length) {
        if (m.charAt(i) == '[') {
          // matching ']' on the mask
          var depth = 0
          var close = i
          while (close < m.length && {
            val c = m.charAt(close)
            if (c == '[') depth += 1
            else if (c == ']') depth -= 1
            depth != 0 || c != ']'
          }) close += 1
          require(close < m.length, "unbalanced [ ] in the statement")
          val inner = m.substring(i + 1, close)
          // content shape checks run on the MASK (literals blank)
          var d2 = 0
          var hasComma = false
          var slicePos = -1 // top-level ':' that is not part of '::'
          var j = 0
          while (j < inner.length) {
            inner.charAt(j) match {
              case '(' | '[' => d2 += 1
              case ')' | ']' => d2 -= 1
              case ',' if d2 == 0 => hasComma = true
              case ':' if d2 == 0 && slicePos < 0 &&
                (j + 1 >= inner.length || inner.charAt(j + 1) != ':') &&
                (j == 0 || inner.charAt(j - 1) != ':') => slicePos = j
              case _ =>
            }
            j += 1
          }
          val idxRaw = cur.substring(i + 1, close).trim
          // receiver tail: previous non-ws MASK char must end an
          // expression — identifier char or ')' (']' can't occur here:
          // the leftmost-first restart rewrites inner groups away)
          var p = i - 1
          while (p >= 0 && m.charAt(p).isWhitespace) p -= 1
          val prevC = if (p >= 0) m.charAt(p) else ' '
          val recvTail =
            prevC.isLetterOrDigit || prevC == '_' || prevC == '$' ||
              prevC == ')'
          // receiver start: walk back over ident runs / () groups,
          // chaining through '.' qualifiers and function names
          var s = p
          if (recvTail) {
            var cont = true
            while (cont && s >= 0) {
              val c = m.charAt(s)
              if (c == ')') {
                var bd = 0
                while (s >= 0 && {
                  val cc = m.charAt(s)
                  if (cc == ')') bd += 1
                  else if (cc == '(') bd -= 1
                  bd != 0 || cc != '('
                }) s -= 1
                require(s >= 0, "unbalanced ( ) before a subscript")
                s -= 1 // a function name may precede — loop again
              } else if (c.isLetterOrDigit || c == '_' || c == '$') {
                while (s >= 0 && {
                  val cc = m.charAt(s)
                  cc.isLetterOrDigit || cc == '_' || cc == '$'
                }) s -= 1
                if (s >= 0 && m.charAt(s) == '.') s -= 1
                else cont = false
              } else cont = false
            }
          }
          val start = s + 1
          val recv = if (recvTail) cur.substring(start, p + 1) else ""
          val recvLower = recv.toLowerCase
          // a bare SQL keyword is never a subscript receiver — `SELECT
          // [1]` subscripts nothing; the bracket group is a DuckDB list
          // literal. ARRAY[…] is the Postgres/DuckDB array-literal
          // spelling (the keyword drops).
          val isArrayKw = recvLower == "array"
          val literalCtx = !recvTail || SubscriptKeywordStops(recvLower)
          // list comprehension (r18, DuckDB): `[expr FOR v IN lst]` /
          // `[expr FOR v IN lst IF cond]` → transform(lst, v -> expr)
          // with the IF filter applied to the source list first —
          // DuckDB's evaluation order (filter, then map). Keyword
          // positions come off the MASK at top level only, so FOR/IN/IF
          // inside nested brackets, parens, or literals never trigger.
          val forPos = findTopLevelKeywordIn(inner, 0, "for")
          if ((isArrayKw || literalCtx) && forPos >= 0) {
            val inPos = findTopLevelKeywordIn(inner, forPos + 3, "in")
            require(inPos > forPos,
              "malformed list comprehension — need [expr FOR var IN list]")
            val ifPos = findTopLevelKeywordIn(inner, inPos + 2, "if")
            val expr = cur.substring(i + 1, i + 1 + forPos).trim
            val v = cur.substring(i + 1 + forPos + 3, i + 1 + inPos).trim
            require(v.matches("[A-Za-z_][A-Za-z0-9_]*"),
              s"list-comprehension variable must be a bare identifier, " +
                s"got: $v")
            val srcEnd = if (ifPos >= 0) i + 1 + ifPos else close
            val src = cur.substring(i + 1 + inPos + 2, srcEnd).trim
            require(expr.nonEmpty && src.nonEmpty,
              "malformed list comprehension — need [expr FOR var IN list]")
            val filtered =
              if (ifPos < 0) src
              else {
                val cond = cur.substring(i + 1 + ifPos + 2, close).trim
                require(cond.nonEmpty,
                  "empty IF condition in a list comprehension")
                s"filter($src, $v -> $cond)"
              }
            val from = if (isArrayKw) start else i
            cur = cur.substring(0, from) +
              s"transform($filtered, $v -> $expr)" + cur.substring(close + 1)
            more = true
          } else if (isArrayKw || literalCtx) {
            // list literal (r18): `[a, b, …]` / `ARRAY[a, b, …]` →
            // array(a, b, …); nested bracket groups inside re-enter on
            // the next pass (their prev char is '(' or ',')
            val content = cur.substring(i + 1, close)
            val from = if (isArrayKw) start else i
            cur = cur.substring(0, from) + s"array($content)" +
              cur.substring(close + 1)
            more = true
          } else if (recvTail && !hasComma &&
            (idxRaw.nonEmpty || slicePos >= 0)) {
            val out =
              if (slicePos >= 0) {
                // slice `arr[b:e]` (r18, DuckDB/Postgres): 1-based
                // INCLUSIVE bounds, either side omittable, negative
                // bounds count from the end, out-of-range CLAMPS —
                // lowered onto Spark's slice(arr, start, length) with
                // the normalize/clamp arithmetic spelled out (INT
                // casts: slice requires int where DuckDB integer
                // arithmetic types BIGINT)
                val bRaw = cur.substring(i + 1, i + 1 + slicePos).trim
                val eRaw = cur.substring(i + 1 + slicePos + 1, close).trim
                val nb =
                  if (bRaw.isEmpty) "1"
                  else s"(CASE WHEN ($bRaw) < 0 THEN size($recv) + " +
                    s"($bRaw) + 1 ELSE ($bRaw) END)"
                val ne =
                  if (eRaw.isEmpty) s"size($recv)"
                  else s"(CASE WHEN ($eRaw) < 0 THEN size($recv) + " +
                    s"($eRaw) + 1 ELSE ($eRaw) END)"
                val gb = s"greatest($nb, 1)"
                s"slice($recv, CAST($gb AS INT), " +
                  s"CAST(greatest(least($ne, size($recv)) - $gb + 1, " +
                  s"0) AS INT))"
              } else {
                // Spark's try_element_at requires an INT index
                // (DuckDB accepts BIGINT — `1 + doc_id % 3` types
                // BIGINT there), so numeric index expressions gain a
                // CAST; a quoted literal (blank on the mask) is a map
                // string key and rides unchanged. A dynamic STRING
                // map key would cast loudly under ANSI — the
                // documented ambiguity refusal.
                val idx =
                  if (idxRaw == "0") "CAST(NULL AS INTEGER)"
                  else if (inner.forall(_.isWhitespace)) idxRaw
                  else s"CAST($idxRaw AS INT)"
                s"try_element_at($recv, $idx)"
              }
            cur = cur.substring(0, start) + out + cur.substring(close + 1)
            more = true
          }
        }
        i += 1
      }
      guard += 1
    }
    require(!more, "more than 255 bracket subscripts in one statement")
    cur
  }

  /** r18: DuckDB struct and map literals — `{'k': v, …}` →
    * named_struct('k', v, …) and `MAP {k: v, …}` → map(k, v, …).
    * Braces are not Spark syntax anywhere outside string literals
    * (masked), so every visible `{` is one of the two literal forms or
    * an error the rewrite surfaces loudly (a malformed item refuses
    * with the offending text). STRUCT keys must be quoted literals
    * (DuckDB's rule); MAP keys are arbitrary expressions (probed:
    * `MAP {upper('k'): 1 + 1}` binds) and `MAP {}` is the valid empty
    * map where a bare `{}` struct refuses. Values re-enter the other
    * passes (a nested struct/list literal rewrites on the next
    * iteration). Struct-field access stays the native `s.k` / dotted
    * path — Spark resolves it. DOCUMENTED DIVERGENCE: DuckDB's map
    * SUBSCRIPT returns a one-element LIST (`MAP {'a': 1}['a']` = [1]);
    * the engine's subscript pass returns the VALUE (try_element_at) —
    * same-text map queries should read through map_keys / map_values /
    * cardinality / element-compare, which agree on both engines.
    */
  def rewriteStructLiterals(sql: String): String = {
    if (sql.indexOf('{') < 0) return sql
    var cur = sql
    var guard = 0
    var more = true
    while (more && guard < 128) {
      more = false
      val m = stripLiterals(cur)
      var i = 0
      while (!more && i < m.length) {
        if (m.charAt(i) == '{') {
          var depth = 0
          var close = i
          while (close < m.length && {
            val c = m.charAt(close)
            if (c == '{') depth += 1
            else if (c == '}') depth -= 1
            depth != 0 || c != '}'
          }) close += 1
          require(close < m.length, "unbalanced { } in the statement")
          // MAP keyword directly before the brace → map literal
          var p = i - 1
          while (p >= 0 && m.charAt(p).isWhitespace) p -= 1
          var ks = p
          while (ks >= 0 && (m.charAt(ks).isLetterOrDigit ||
            m.charAt(ks) == '_')) ks -= 1
          // (after the ident walk ks sits on a non-ident char; '.'
          // there means a QUALIFIED name like a.map — not the keyword)
          val isMap = p >= 0 &&
            cur.substring(ks + 1, p + 1).equalsIgnoreCase("map") &&
            (ks < 0 || m.charAt(ks) != '.')
          val content = cur.substring(i + 1, close)
          require(isMap || content.trim.nonEmpty,
            "empty struct literal {} — a struct needs at least one field")
          val items =
            if (content.trim.isEmpty) Nil else splitTopLevelAll(content)
          val args = items.map { item =>
            val im = stripLiterals(item)
            // the key:value split is the first top-level ':' not '::'
            var d2 = 0
            var colon = -1
            var j = 0
            while (colon < 0 && j < im.length) {
              im.charAt(j) match {
                case '(' | '[' | '{' => d2 += 1
                case ')' | ']' | '}' => d2 -= 1
                case ':' if d2 == 0 &&
                  (j + 1 >= im.length || im.charAt(j + 1) != ':') &&
                  (j == 0 || im.charAt(j - 1) != ':') => colon = j
                case _ =>
              }
              j += 1
            }
            require(colon > 0,
              s"malformed ${if (isMap) "map" else "struct"} literal " +
                s"field (need key: value): ${item.trim.take(40)}")
            val key = item.substring(0, colon).trim
            val value = item.substring(colon + 1).trim
            require(isMap || (key.length >= 2 && key.head == '\'' &&
              key.last == '\''),
              s"struct literal keys must be quoted literals, got: $key")
            require(key.nonEmpty && value.nonEmpty,
              s"empty key or value in a literal field: ${item.trim.take(40)}")
            s"$key, $value"
          }
          val (from, fn) =
            if (isMap) (ks + 1, "map") else (i, "named_struct")
          cur = cur.substring(0, from) +
            s"$fn(${args.mkString(", ")})" +
            cur.substring(close + 1)
          more = true
        }
        i += 1
      }
      guard += 1
    }
    require(!more, "more than 127 struct literals in one statement")
    cur
  }

  /** [[splitTopLevel]] tracking ALL bracket kinds — () [] {} — for
    * struct-literal item splitting.
    */
  private[sql] def splitTopLevelAll(text: String): Seq[String] = {
    val m = stripLiterals(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var last = 0
    var i = 0
    while (i < m.length) {
      m.charAt(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 =>
          out += text.substring(last, i)
          last = i + 1
        case _ =>
      }
      i += 1
    }
    out += text.substring(last)
    out.toSeq
  }

  /** Bare keywords that can precede a '[' without being a subscript
    * receiver — after any of these the bracket group is a list literal,
    * not an access expression.
    */
  private val SubscriptKeywordStops: Set[String] = Set(
    "select", "from", "where", "when", "then", "else", "case", "end",
    "and", "or", "not", "on", "in", "as", "by", "join", "union", "all",
    "distinct", "having", "group", "order", "limit", "offset", "values",
    "set", "like", "ilike", "between", "is", "exists", "any", "some",
    "returning", "with", "over", "partition", "range", "rows", "groups",
    "filter", "lateral", "cross", "inner", "left", "right", "full",
    "semi", "anti", "using", "natural")

  /** u22: transaction-control statements — `BEGIN [TRANSACTION]`,
    * `COMMIT`, `ROLLBACK` (and Postgres' `ABORT` alias for ROLLBACK).
    * Only a statement that is EXACTLY the control word (plus the
    * optional TRANSACTION noise word) classifies; anything longer is
    * not ours and falls through to the normal pipeline's loud errors.
    */
  def txnKind(sql: String): Option[String] = {
    val m = stripLiterals(sql)
    val i = skipWsAt(m, 0)
    def only(endIdx: Int): Boolean = skipWsAt(m, endIdx) >= m.length
    if (wordAt(m, i, "begin")) {
      val j = skipWsAt(m, i + 5)
      if (only(i + 5)) Some("begin")
      else if (wordAt(m, j, "transaction") && only(j + 11)) Some("begin")
      else None
    } else if (wordAt(m, i, "commit") && only(i + 6)) Some("commit")
    else if (wordAt(m, i, "rollback") && only(i + 8)) Some("rollback")
    else if (wordAt(m, i, "abort") && only(i + 5)) Some("rollback")
    else None
  }

  /** u20: split a multi-statement SCRIPT on top-level semicolons
    * (masked scan — a ';' inside a literal or comment is content; a
    * ';' inside parens is not legal SQL and stays unsplit rather than
    * guessed at). None when the text is a single statement with no
    * separator; a lone trailing ';' yields the one statement.
    */
  def splitStatements(sql: String): Option[Seq[String]] = {
    val m = stripLiterals(sql)
    if (!m.contains(';')) return None
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    var last = 0
    var depth = 0
    var i = 0
    var splitFound = false
    while (i < m.length) {
      m.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ';' if depth == 0 =>
          splitFound = true
          parts += sql.substring(last, i)
          last = i + 1
        case _ =>
      }
      i += 1
    }
    // every ';' sat inside parens (e.g. malformed `SELECT f(1;2)`) —
    // NOT a script; returning the unchanged text would make the session
    // entry point re-enter itself forever
    if (!splitFound) return None
    parts += sql.substring(last)
    val stmts = parts.map(_.trim).filter(_.nonEmpty).toSeq
    require(stmts.nonEmpty, "the script contains no statements")
    Some(stmts)
  }

  // ---- window calls: one finder and one WINDOW-clause parser under
  // every window pass (named windows, FILTER, EXCLUDE, DISTINCT, GROUPS)

  /** A window specification — the text between the parens of
    * `OVER (…)` or of a WINDOW definition — split at its clauses.
    * Offsets index `text`, -1 marks an absent clause: a leading window
    * name (a chained reference) spans `head` to `headEnd`; `order` is the
    * ORDER keyword, `frame` the frame's `mode` keyword (rows, range or
    * groups) and `exclude` the EXCLUDE keyword. A mode word opens the
    * frame only when BETWEEN, UNBOUNDED, CURRENT, INTERVAL, a number or
    * `(` follows it, so a column named `groups` or `range` never does.
    */
  private final case class WindowSpec(text: String, head: Int,
      headEnd: Int, order: Int, frame: Int, mode: String, exclude: Int) {
    def headName: Option[String] =
      if (headEnd < 0) None else Some(text.substring(head, headEnd))
    /** The PARTITION BY / ORDER BY part, before the frame, trimmed. */
    def partitionOrder: String = text.substring(0,
      if (frame >= 0) frame else if (exclude >= 0) exclude
      else text.length).trim
    /** The frame clause up to EXCLUDE, trimmed ("" without a frame). */
    def frameText: String = if (frame < 0) "" else
      text.substring(frame, if (exclude >= 0) exclude else text.length).trim
    /** The specification without its EXCLUDE clause, trimmed. */
    def withoutExclude: String =
      (if (exclude < 0) text else text.substring(0, exclude)).trim
    /** The EXCLUDE kind — current, group, ties or none (NO OTHERS) —
      * which must end the specification (the standard grammar).
      */
    def exclusion: String = {
      val m = stripLiterals(text)
      var p = skipWsAt(m, exclude + 7)
      val kind =
        if (wordAt(m, p, "current")) {
          p = skipWsAt(m, p + 7)
          require(wordAt(m, p, "row"), "EXCLUDE CURRENT needs ROW")
          p += 3; "current"
        } else if (wordAt(m, p, "group")) { p += 5; "group" }
        else if (wordAt(m, p, "ties")) { p += 4; "ties" }
        else if (wordAt(m, p, "no")) {
          p = skipWsAt(m, p + 2)
          require(wordAt(m, p, "others"), "EXCLUDE NO needs OTHERS")
          p += 6; "none"
        } else throw new IllegalArgumentException(
          s"malformed EXCLUDE clause: ${text.substring(exclude).trim.take(40)}")
      require(skipWsAt(m, p) >= m.length,
        "EXCLUDE must be the last clause of the window specification, " +
          s"found trailing: ${text.substring(p).trim.take(40)}")
      kind
    }
  }

  private val SpecKeywords =
    Seq("partition", "order", "rows", "range", "groups", "exclude")

  private def windowSpec(text: String): WindowSpec =
    windowSpecIn(text, stripLiterals(text))

  /** [[windowSpec]] over the precomputed mask `m` of `text`. */
  private def windowSpecIn(text: String, m: String): WindowSpec = {
    val head = skipWsAt(m, 0)
    val headEnd =
      if (head < m.length && isIdentStart(m.charAt(head)) &&
        !SpecKeywords.exists(wordAt(m, head, _))) wordEnd(m, head)
      else -1
    val exclude = findTopLevelKeywordIn(m, 0, "exclude")
    val limit = if (exclude < 0) m.length else exclude
    def opensFrame(at: Int): Boolean = {
      val nx = skipWsAt(m, at)
      Seq("between", "unbounded", "current", "interval")
        .exists(wordAt(m, nx, _)) ||
        (nx < m.length && (m.charAt(nx).isDigit || m.charAt(nx) == '('))
    }
    var frame = -1
    var mode = ""
    var depth = 0
    var i = 0
    while (frame < 0 && i < limit) {
      val c = m.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0)
        Seq("rows", "range", "groups")
          .find(kw => wordAt(m, i, kw) && opensFrame(i + kw.length))
          .foreach { kw => frame = i; mode = kw }
      i += 1
    }
    val o = findTopLevelKeywordIn(m, 0, "order")
    val order = if (o >= 0 && o < (if (frame >= 0) frame else limit)) o else -1
    WindowSpec(text, head, headEnd, order, frame, mode, exclude)
  }

  /** One window call of a statement, `fn(args) [FILTER (…)] OVER target`,
    * as offsets into the statement. The call begins at `start` (its
    * name; the FILTER or OVER keyword when no call precedes) and
    * `callEnd` is just past its `)` or its FILTER's. `fn` is the call's
    * name as written ("" when no named call precedes), `distinct` marks
    * a leading DISTINCT, `args` holds the arguments after it and
    * `filter` the FILTER's parenthesized text, both trimmed. The target
    * runs from `targetAt` to `end`: a parenthesized `spec`, or a window
    * name when `spec` is None (`end == targetAt` when OVER has neither).
    */
  private final case class WindowCall(start: Int, fn: String,
      distinct: Boolean, args: String, filter: Option[String], callEnd: Int,
      over: Int, targetAt: Int, end: Int, spec: Option[WindowSpec])

  /** Every window call of `sql`, left to right: the one scan from each
    * OVER back over FILTER to the call and forward to its target that
    * every window pass reads. Lazy, so a pass that wants the first match
    * parses no further.
    */
  private def windowCalls(sql: String): Iterator[WindowCall] = {
    val m = stripLiterals(sql)
    Iterator.range(0, m.length).filter(wordAt(m, _, "over"))
      .map(windowCallAt(sql, m, _))
  }

  private def windowCallAt(sql: String, m: String, over: Int): WindowCall = {
    val t = skipWsAt(m, over + 4)
    val (end, spec) =
      if (t < m.length && m.charAt(t) == '(') {
        val close = matchParenAt(m, t)
        (close + 1, Some(windowSpecIn(sql.substring(t + 1, close),
          m.substring(t + 1, close))))
      } else if (t < m.length && isIdentStart(m.charAt(t))) {
        var z = t
        while (z < m.length && isIdentChar(m.charAt(z))) z += 1
        (z, None)
      } else (t, None)
    // (name start, name end, `(`, `)`) of the call whose `)` ends the
    // code before offset `at`
    def callBefore(at: Int): Option[(Int, Int, Int, Int)] = {
      var q = at - 1
      while (q >= 0 && m.charAt(q).isWhitespace) q -= 1
      if (q < 0 || m.charAt(q) != ')') None
      else callEndingAt(m, q).map { case (s, e, open) => (s, e, open, q) }
    }
    val direct = callBefore(over)
    val filter = direct.collect {
      case (s, e, open, q) if sql.substring(s, e).equalsIgnoreCase("filter") =>
        sql.substring(open + 1, q).trim
    }
    val call = if (filter.isDefined) callBefore(direct.get._1) else direct
    val callEnd = direct.fold(over)(_._4 + 1)
    call match {
      case Some((s, e, open, q)) =>
        val am = m.substring(open + 1, q)
        val d = skipWsAt(am, 0)
        val distinct = wordAt(am, d, "distinct")
        val args = sql.substring(open + 1 + (if (distinct) d + 8 else 0), q)
        WindowCall(s, sql.substring(s, e), distinct, args.trim, filter,
          callEnd, over, t, end, spec)
      case None =>
        WindowCall(direct.fold(over)(_._1), "", distinct = false, "", filter,
          callEnd, over, t, end, spec)
    }
  }

  /** Rewrite the first window call `pick` selects, then again on the
    * rewritten text, until none is left — at most 63 times, then refuse
    * (`what` names the rewritten form in the message).
    */
  private def rewriteEach(sql: String, what: String)(pick: WindowCall => Boolean)
                         (rewrite: (String, WindowCall) => String): String = {
    var cur = sql
    var n = 0
    var hit = windowCalls(cur).find(pick)
    while (hit.isDefined) {
      require(n < 63, s"more than 63 $what in one statement")
      cur = rewrite(cur, hit.get)
      n += 1
      hit = windowCalls(cur).find(pick)
    }
    cur
  }

  /** One definition of a WINDOW clause: `name AS (spec)`, or the bare
    * reference `name AS ref` (`spec` None). `at` to `end` spans the
    * spec's text between its parens, or the reference.
    */
  private final case class WindowDef(name: String, spec: Option[WindowSpec],
                                     ref: String, at: Int, end: Int)

  /** A WINDOW clause, from its keyword (`at`) to just past its last
    * definition and the whitespace after it (`end`).
    */
  private final case class WindowClause(at: Int, end: Int,
                                        defs: Seq[WindowDef])

  /** Every WINDOW clause of the statement with mask `m`, at any depth:
    * the keyword must be followed by `name AS`, so the `window(ts, …)`
    * function and a column named window never match.
    */
  private def windowClauses(sql: String, m: String): Seq[WindowClause] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WindowClause]
    var w = 0
    while (w < m.length) {
      if (wordAt(m, w, "window")) {
        val k = skipWsAt(m, w + 6)
        if (k < m.length && isIdentStart(m.charAt(k)) &&
          wordAt(m, skipWsAt(m, wordEnd(m, k)), "as"))
          out += windowClauseAt(sql, m, w)
      }
      w += 1
    }
    out.toSeq
  }

  /** The `name AS (spec) | name AS ref` list of the WINDOW clause whose
    * keyword is at `w`.
    */
  private def windowClauseAt(sql: String, m: String, w: Int): WindowClause = {
    val defs = scala.collection.mutable.ArrayBuffer.empty[WindowDef]
    var i = skipWsAt(m, w + 6)
    var more = true
    while (more) {
      val ns = i
      i = wordEnd(m, i)
      val name = sql.substring(ns, i)
      require(name.nonEmpty, "malformed WINDOW clause: missing name")
      i = skipWsAt(m, i)
      require(wordAt(m, i, "as"), s"malformed WINDOW clause at: $name")
      i = skipWsAt(m, i + 2)
      if (i < m.length && m.charAt(i) == '(') {
        val close = matchParenAt(m, i)
        defs += WindowDef(name, Some(windowSpecIn(sql.substring(i + 1, close),
          m.substring(i + 1, close))), "", i + 1, close)
        i = skipWsAt(m, close + 1)
      } else {
        val rs = i
        i = wordEnd(m, i)
        require(i > rs,
          s"WINDOW $name AS needs a specification or a window name")
        defs += WindowDef(name, None, sql.substring(rs, i), rs, i)
        i = skipWsAt(m, i)
      }
      if (i < m.length && m.charAt(i) == ',') i = skipWsAt(m, i + 1)
      else more = false
    }
    WindowClause(w, i, defs.toSeq)
  }

  /** Named windows (w13, w21): inline what Spark cannot resolve by name.
    * Spark runs `OVER w` against a WINDOW clause, but has no chained
    * specifications and no EXCLUDE, so:
    *  - a specification that STARTS with another window's name — in a
    *    definition (`WINDOW w1 AS (PARTITION BY p), w2 AS (w1 ORDER BY
    *    o)`) or inline (`OVER (w1 ORDER BY o)`) — gets the base
    *    specification's text in place of the name. The standard's rules
    *    hold loudly: the base carries no frame clause, the chain adds no
    *    PARTITION BY, and adds ORDER BY only when the base has none.
    *    Names resolve in textual order (defined before use, the Postgres
    *    rule).
    *  - a definition whose specification carries EXCLUDE leaves the
    *    clause (the clause goes when empty) and each `OVER name` becomes
    *    `OVER (spec)`, which [[rewriteWindowExclude]] lowers. Definitions
    *    without EXCLUDE stay for Spark; one that refers to a dropped
    *    definition refuses.
    *
    * The clause is found at any depth, so a derived table's own WINDOW
    * clause inlines like a top-level one, but only the calls of its own
    * SELECT block ([[selectBlock]]) are rewritten: a reference in an
    * outer query, a subquery or another branch of a set operation is
    * out of the clause's scope and keeps its name for Spark to resolve
    * or refuse. When anything needs inlining, a statement with more than
    * one WINDOW clause refuses: a blind inline could capture another
    * clause's same-named window.
    */
  def inlineChainedWindows(sql: String): String = {
    val m = stripLiterals(sql)
    val clauses = windowClauses(sql, m)
    if (clauses.isEmpty) return sql
    val calls = windowCalls(sql).toSeq
    def chainHead(s: WindowSpec, names: Set[String]): Option[String] =
      s.headName.map(_.toLowerCase).filter(names)
    if (clauses.size > 1) {
      val names = clauses.flatMap(_.defs.map(_.name.toLowerCase)).toSet
      val inlines = clauses.exists { c =>
        c.defs.indices.exists { i =>
          c.defs(i).spec.exists(s => s.exclude >= 0 ||
            chainHead(s, c.defs.take(i).map(_.name.toLowerCase).toSet).isDefined)
        }
      } || calls.exists(_.spec.exists(chainHead(_, names).isDefined))
      require(!inlines,
        "chained or EXCLUDE-carrying named windows cannot inline when the " +
          "statement has more than one WINDOW clause (a subquery's " +
          "same-named window would be captured) — inline the OVER " +
          "specification by hand")
      return sql
    }
    val clause = clauses.head
    // lower-case name → specification text, chains resolved
    val resolved = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // (start, end, replacement), applied right to left
    val edits = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    def chained(s: WindowSpec, at: String): Option[String] =
      chainHead(s, resolved.keySet.toSet).map(h =>
        composeChain(h, resolved(h), s.text.substring(s.headEnd), at))
    clause.defs.foreach { d =>
      val lc = d.name.toLowerCase
      d.spec match {
        case None => // `w2 AS w1` is valid Spark: record, keep the text
          resolved(lc) = resolved.getOrElse(d.ref.toLowerCase, d.ref.toLowerCase)
        case Some(s) => chained(s, s"WINDOW definition '$lc'") match {
          case Some(full) => resolved(lc) = full; edits += ((d.at, d.end, full))
          case None => resolved(lc) = s.text
        }
      }
    }
    val block = selectBlock(m, clause.at)
    val outside = calls.filter(c =>
      (c.over < clause.at || c.over >= clause.end) && selectBlock(m, c.over) == block)
    outside.foreach(c => c.spec.foreach(s =>
      chained(s, "an OVER specification")
        .foreach(full => edits += ((c.targetAt + 1, c.end - 1, full)))))
    val dropped = clause.defs.filter(d =>
      d.spec.isDefined && windowSpec(resolved(d.name.toLowerCase)).exclude >= 0)
    if (dropped.nonEmpty) {
      dropped.foreach { d =>
        require(windowSpec(resolved(d.name.toLowerCase)).headName.isEmpty,
          s"WINDOW ${d.name} chains another window name with EXCLUDE — " +
            "write the full specification inline")
      }
      val names = dropped.map(_.name.toLowerCase).toSet
      val kept = clause.defs.filterNot(dropped.contains)
      kept.foreach { d =>
        val refersToDropped =
          if (d.spec.isEmpty) names(d.ref.toLowerCase)
          else names.exists(n => findAnyDepthKeyword(
            stripLiterals(resolved(d.name.toLowerCase)), n) >= 0)
        require(!refersToDropped,
          s"WINDOW ${d.name} references an EXCLUDE-carrying window that " +
            "this rewrite inlines away — write the full specification inline")
      }
      // the clause is rewritten whole, its definitions' edits with it
      edits.filterInPlace(e => e._1 < clause.at || e._1 >= clause.end)
      edits += ((clause.at, clause.end,
        if (kept.isEmpty) ""
        else "WINDOW " + kept.map { d =>
          if (d.spec.isEmpty) s"${d.name} AS ${d.ref}"
          else s"${d.name} AS (${resolved(d.name.toLowerCase)})"
        }.mkString(", ") + " "))
      outside.foreach { c =>
        val name = sql.substring(c.targetAt, c.end).toLowerCase
        if (c.spec.isEmpty && names(name))
          edits += ((c.targetAt, c.end, s"(${resolved(name)})"))
      }
    }
    edits.sortBy(-_._1).foldLeft(sql) { case (cur, (s0, e0, text)) =>
      cur.substring(0, s0) + text + cur.substring(e0)
    }
  }

  private val SetOperators = Seq("union", "intersect", "except", "minus")

  /** The SELECT block that offset `p` of the masked statement `m` sits
    * in: the open paren of the innermost query group around it (-1 for
    * the statement itself) and the number of set operators before `p`
    * in that group. A paren group holding no SELECT or WITH (a call, an
    * expression, an OVER specification) belongs to the block around it.
    */
  private def selectBlock(m: String, p: Int): (Int, Int) = {
    // (open paren, holds a query, set operators seen)
    val groups = scala.collection.mutable.ArrayBuffer((-1, true, 0))
    var i = 0
    while (i < p) {
      val c = m.charAt(i)
      if (c == '(') groups += ((i, false, 0))
      else if (c == ')') { if (groups.size > 1) groups.remove(groups.size - 1) }
      else if (isIdentStart(c)) {
        val (at, query, ops) = groups.last
        if (wordAt(m, i, "select") || wordAt(m, i, "with"))
          groups(groups.size - 1) = (at, true, ops)
        else if (SetOperators.exists(wordAt(m, i, _)))
          groups(groups.size - 1) = (at, query, ops + 1)
      }
      i += 1
    }
    val (at, _, ops) = groups.findLast(_._2).get
    (at, ops)
  }

  /** The specification a chained reference stands for: the base window's
    * text with the referencing specification's clauses (`suffix`)
    * appended, under the standard's rules (`at` names the reference in
    * the refusal).
    */
  private def composeChain(baseName: String, base: String, suffix: String,
                           at: String): String = {
    val sTrim = suffix.trim
    if (sTrim.isEmpty) return base
    val sm = stripLiterals(sTrim)
    require(!wordAt(sm, 0, "partition"),
      s"$at chains window '$baseName' and adds PARTITION BY — a " +
        "chained window cannot override the base partitioning")
    require(SpecKeywords.exists(wordAt(sm, 0, _)),
      s"$at chains window '$baseName' but continues with " +
        s"'${sTrim.take(20)}' — only ORDER BY and a frame clause can " +
        "follow a chained window name")
    val b = windowSpec(base)
    require(b.frame < 0,
      s"$at chains window '$baseName', whose specification carries a " +
        "frame clause — the standard forbids copying a framed window")
    require(!(b.order >= 0 && wordAt(sm, 0, "order")),
      s"$at chains window '$baseName' and adds ORDER BY, but the " +
        "base already orders — the standard forbids overriding it")
    s"$base $sTrim"
  }

  /** w20/w17: `agg(args) FILTER (WHERE cond) OVER …`. Spark refuses
    * FILTER on window functions entirely; DuckDB runs it. The one fold
    * for every window FILTER, EXCLUDE or not: agg(CASE WHEN cond THEN arg
    * END) — the CASE's NULL is skipped by every NULL-skipping aggregate,
    * COUNT(*) becomes COUNT(CASE WHEN cond THEN 1 END), and
    * COUNT/SUM/AVG(DISTINCT x) fold INSIDE the DISTINCT. The folded call
    * then lowers like any other through [[rewriteWindowExclude]] and
    * [[rewriteDistinctWindow]], which run after this pass. Restricted to
    * SUM/COUNT/AVG/MIN/MAX — the aggregates whose NULL-skip contract
    * makes the fold exact; anything else refuses loudly.
    */
  def rewriteWindowFilter(sql: String): String = {
    // cheap pre-test: no FILTER or no OVER anywhere → nothing to do
    val pre = stripLiterals(sql)
    if (findAnyDepthKeyword(pre, "filter") < 0 ||
      findAnyDepthKeyword(pre, "over") < 0) return sql
    rewriteEach(sql, "window FILTER clauses")(_.filter.isDefined) { (cur, c) =>
      val inner = c.filter.get
      val innerMask = stripLiterals(inner)
      val wp = skipWsAt(innerMask, 0)
      require(wordAt(innerMask, wp, "where"),
        s"malformed FILTER clause before OVER: (${inner.take(40)})")
      val cond = inner.substring(wp + 5).trim
      require(cond.nonEmpty, "empty FILTER condition")
      require(c.fn.nonEmpty, "FILTER must directly follow agg(args)")
      val fnameLc = c.fn.toLowerCase
      require(Set("sum", "count", "avg", "min", "max").contains(fnameLc),
        s"FILTER over a window supports SUM/COUNT/AVG/MIN/MAX " +
          s"(the NULL-skip fold), got ${c.fn}")
      require(!c.distinct || Set("count", "sum", "avg").contains(fnameLc),
        "FILTER over a DISTINCT window aggregate is supported for " +
          "COUNT/SUM/AVG")
      val folded =
        if (c.distinct) s"(DISTINCT CASE WHEN ($cond) THEN (${c.args}) END)"
        else if (c.args == "*") s"(CASE WHEN ($cond) THEN 1 END)"
        else s"(CASE WHEN ($cond) THEN (${c.args}) END)"
      cur.substring(0, c.start) + c.fn + folded + cur.substring(c.callEnd)
    }
  }

  /** w18: DISTINCT aggregates over a window. Spark refuses them
    * natively ("Distinct window functions are not supported"); DuckDB
    * runs them. COUNT(DISTINCT x) OVER (spec) lowers exactly onto
    * CAST(size(collect_set(x) OVER (spec)) AS BIGINT): collect_set
    * skips NULLs like COUNT DISTINCT does and dedups INSIDE the
    * aggregation buffer (Spark's incremental frame processors stay
    * O(partition); a per-row array_distinct would be O(n²) there), an
    * empty frame collects an empty set (size 0 = the empty count), the spec
    * passes through verbatim (named-window references included), and
    * the result type matches DuckDB's BIGINT. Non-COUNT DISTINCT window
    * aggregates refuse loudly — a SUM/AVG re-fold over the collected
    * array is not reproducibly ordered against a native engine's float
    * sum. Runs AFTER [[rewriteWindowExclude]]: EXCLUDE-carrying
    * DISTINCT forms take the collect-split path there and re-enter here
    * DISTINCT-free. Cost shape: the per-row array materializes the
    * frame slice — bounded frames stay O(frame), unbounded frames are
    * O(partition) per row (the memory shape a naive DISTINCT window
    * evaluation pays in any engine).
    */
  def rewriteDistinctWindow(sql: String): String = {
    // cheap pre-test: no DISTINCT or no OVER anywhere → nothing to do
    val pre = stripLiterals(sql)
    if (findAnyDepthKeyword(pre, "distinct") < 0 ||
      findAnyDepthKeyword(pre, "over") < 0) return sql
    // a FILTER-carrying call is the FILTER fold's, which runs first
    rewriteEach(sql, "DISTINCT window aggregates")(c =>
      c.distinct && c.fn.nonEmpty && c.filter.isEmpty) { (cur, c) =>
      val fname = c.fn.toLowerCase
      require(Set("count", "sum", "avg").contains(fname),
        s"DISTINCT window aggregates are supported for " +
          s"COUNT/SUM/AVG (got $fname) — and SUM/AVG only " +
          "over integral/decimal inputs (the order-free exact " +
          "fold); a float DISTINCT re-fold is not reproducibly " +
          "ordered")
      // single argument only (top-level comma = a second one)
      require(splitTopLevel(c.args).size == 1,
        s"${fname.toUpperCase}(DISTINCT a, b) over a window " +
          "is not supported — combine the keys into one " +
          "expression (e.g. a struct or concat)")
      val arg = c.args
      require(arg.nonEmpty,
        s"${fname.toUpperCase}(DISTINCT) needs an argument")
      require(c.end > c.targetAt,
        "OVER needs a (specification) or a window name")
      val overText = cur.substring(c.targetAt, c.end)
      // collect_SET, not collect_list + array_distinct: the
      // set dedups INSIDE the aggregation buffer, so Spark's
      // incremental frame processors stay O(partition) and the
      // per-row projection is a constant-time size() — the
      // list variant re-deduplicated an O(frame) array per
      // row (O(n²) per partition on unbounded frames; 220 s
      // on the sf0.1 bench before this change). SUM/AVG (w22)
      // lower onto the AGGREGATE forms
      // ([[graft.functions.SumDistinctExact]] — set in the
      // buffer, order-free exact fold ONCE at eval, float
      // inputs refused at analysis time): the scalar
      // fold-over-collect_set shape folded an identical
      // per-partition array once PER ROW on whole-partition
      // specs — O(rows × distinct), 8.3 s for one column on
      // the round-18 sf0.1 bench before this change.
      val rewritten = fname match {
        case "count" =>
          s"CAST(size(collect_set($arg) OVER $overText) AS BIGINT)"
        case "sum" =>
          s"sum_distinct_exact($arg) OVER $overText"
        case _ =>
          s"avg_distinct_exact($arg) OVER $overText"
      }
      cur.substring(0, c.start) + rewritten + cur.substring(c.end)
    }
  }

  /** GROUPS window-frame mode (w14). Spark has no GROUPS frames; the
    * SQL-standard semantics — frame bounds count PEER GROUPS of the
    * ORDER BY key — lower exactly onto a dense_rank group index plus a
    * RANGE frame over it:
    *
    *   agg(x) OVER (PARTITION BY p ORDER BY o GROUPS BETWEEN a AND b)
    *   ≡ agg(x) OVER (PARTITION BY p ORDER BY __grp RANGE BETWEEN a AND b)
    *     with __grp = dense_rank() OVER (PARTITION BY p ORDER BY o)
    *
    * (group-index distance IS the peer-group distance; RANGE CURRENT
    * ROW covers exactly the current group's rows, matching GROUPS
    * CURRENT ROW on both edges). The dense_rank needs a pass below the
    * projection, so the statement is wrapped: select items move over a
    * derived table that appends one `__grp_N` column per distinct
    * window (partition, order) pair; the derived table is aliased to
    * the FROM table's effective alias so qualified references keep
    * resolving. The dense_rank ORDER BY gets the dialect's NULLS LAST
    * default, so group indexing matches the receiver dialect's sort.
    *
    * Loud refusals (never silent mis-execution): GROUPS in a subquery
    * (the wrap targets the outer statement only), under a WITH head, a
    * multi-table / joined FROM (the wrap has one alias — pre-join into
    * a view), top-level GROUP BY / HAVING / QUALIFY / WINDOW clause /
    * set operators, bare `*` select items (the wrap would leak the
    * index columns through the star), and a GROUPS spec without ORDER
    * BY (the standard requires one). A `groups` used as an identifier
    * never triggers: the frame keyword must be followed by
    * BETWEEN / UNBOUNDED / CURRENT / a number.
    */
  def rewriteGroupsFrames(sql: String): String = {
    val m0 = stripLiterals(sql)
    if (findAnyDepthKeyword(m0, "groups") < 0) return sql
    def isGroups(c: WindowCall): Boolean = c.spec.exists(_.mode == "groups")
    if (!windowCalls(sql).exists(isGroups)) return sql // identifier named groups only
    // is position p inside a nested SELECT (any open paren group that
    // contains a select keyword)?
    def insideSubquery(m: String, p: Int): Boolean = {
      val stack = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      var i = 0
      while (i < p) {
        val c = m.charAt(i)
        if (c == '(') stack += false
        else if (c == ')') { if (stack.nonEmpty) stack.remove(stack.size - 1) }
        else if (stack.nonEmpty && wordAt(m, i, "select"))
          stack(stack.size - 1) = true
        i += 1
      }
      stack.contains(true)
    }
    // ---- statement-shape validation ----
    val selAt = skipWsAt(m0, 0)
    require(wordAt(m0, selAt, "select"),
      "GROUPS frames are supported in a plain SELECT statement — " +
        "inline any WITH clause")
    // ---- replace every GROUPS OVER, collecting dense_rank defs ----
    val defKeys = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val defPo = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = rewriteEach(sql, "GROUPS frames")(isGroups) { (cur, c) =>
      require(!insideSubquery(stripLiterals(cur), c.over),
        "GROUPS frames are supported in the outermost SELECT only — " +
          "lift the windowed subquery or rewrite its frame in ROWS mode")
      val spec = c.spec.get
      require(spec.order >= 0,
        "a GROUPS frame requires an ORDER BY in the window specification")
      val po = spec.partitionOrder
      val key = po.replaceAll("\\s+", " ").toLowerCase
      val idx = defKeys.getOrElseUpdate(key, {
        defPo += po; defKeys.size
      })
      val partText = spec.text.substring(0, spec.order).trim
      val frameBody = spec.text.substring(spec.frame + 6) // after GROUPS
      val newSpec = (if (partText.isEmpty) "" else partText + " ") +
        s"ORDER BY `__grp_$idx` RANGE$frameBody"
      cur.substring(0, c.targetAt + 1) + newSpec + cur.substring(c.end - 1)
    }
    // ---- wrap: items over a derived table carrying the group indexes ----
    val m = stripLiterals(cur)
    val itemsStart = skipWsAt(m, 0) + 6
    val fromPos = findTopLevelKeywordIn(m, itemsStart, "from")
    require(fromPos > 0, "GROUPS frames need a FROM clause")
    for (kw <- Seq("group", "having", "qualify", "window",
      "union", "intersect", "except"))
      require(findTopLevelKeywordIn(m, fromPos, kw) < 0,
        s"GROUPS frames with a top-level ${kw.toUpperCase} clause are " +
          "not supported — compute the grouped/combined relation in a " +
          "view first")
    var tailCut = cur.length
    for (kw <- Seq("order", "limit", "offset")) {
      val idx = findTopLevelKeywordIn(m, fromPos, kw)
      if (idx >= 0 && idx < tailCut) tailCut = idx
    }
    val items = cur.substring(itemsStart, fromPos)
    splitTopLevel(items).foreach { it =>
      val t = stripLiterals(it).trim
      require(t != "*" && !t.startsWith("* ") && !t.endsWith(".*"),
        "GROUPS frames with a `*` select item are not supported — the " +
          "wrap would leak the group-index columns through the star; " +
          "name the columns")
    }
    val src = cur.substring(fromPos, tailCut)
    val tail = cur.substring(tailCut)
    // single-table FROM: `FROM name [[AS] alias] [WHERE …]`
    val srcMask = m.substring(fromPos, tailCut)
    require(findTopLevelKeywordIn(srcMask, 0, "join") < 0 &&
      !splitTopLevel(src).drop(1).exists(_.trim.nonEmpty),
      "GROUPS frames support a single-table FROM — pre-join into a view " +
        "first")
    val wherePos = findTopLevelKeywordIn(srcMask, 0, "where")
    val refEnd = if (wherePos < 0) src.length else wherePos
    val refParts = src.substring(4, refEnd).trim.split("\\s+")
      .filterNot(_.equalsIgnoreCase("as"))
    require(refParts.nonEmpty && refParts.length <= 2 &&
      isBareIdentifier(refParts.head),
      "GROUPS frames need a plain single-table FROM reference, got: " +
        src.substring(4, refEnd).trim)
    val innerAlias =
      if (refParts.length == 2) refParts(1)
      else defaultAliasOf(refParts.head)
    val defsText = defPo.zipWithIndex.map { case (po, i) =>
      s"dense_rank() OVER (${nullsLastWindowOrder(po)}) AS `__grp_$i`"
    }.mkString(", ")
    s"SELECT $items FROM (SELECT *, $defsText $src) $innerAlias $tail"
  }

  /** Append the dialect's NULLS LAST default to each ORDER BY item of a
    * window `PARTITION BY … ORDER BY …` text (the group-index sort must
    * match the receiver dialect's null placement).
    */
  private def nullsLastWindowOrder(po: String): String = {
    val m = stripLiterals(po)
    val orderPos = findTopLevelKeywordIn(m, 0, "order")
    val by = if (orderPos < 0) -1 else findTopLevelKeywordIn(m, orderPos + 5, "by")
    if (by < 0) po else po.substring(0, by + 2) + nullsLastItems(po.substring(by + 2))
  }

  /** First any-depth occurrence of keyword `kw` in a masked view. */
  private def findAnyDepthKeyword(m: String, kw: String): Int = {
    var i = 0
    while (i < m.length) {
      if (wordAt(m, i, kw)) return i
      i += 1
    }
    -1
  }

  /** End of the identifier word starting at offset `k` of a masked view. */
  private def wordEnd(m: String, k: Int): Int = {
    var e = k
    while (e < m.length && isIdentBoundaryChar(m.charAt(e))) e += 1
    e
  }

  private[sql] def skipWsAt(m: String, k0: Int): Int = {
    var k = k0
    while (k < m.length && m.charAt(k).isWhitespace) k += 1
    k
  }

  /** Identifier at offset `at` of the masked view `m`, sliced from the
    * original `sql`: (name, end offset), or None when no identifier
    * starts there.
    */
  private[sql] def identAt(m: String, sql: String,
                           at: Int): Option[(String, Int)] = {
    var e = at
    while (e < m.length && (m.charAt(e).isLetterOrDigit ||
      m.charAt(e) == '_')) e += 1
    val w = sql.substring(at, e)
    if (w.isEmpty || w.head.isDigit) None else Some((w, e))
  }

  /** The call `name(args)` whose `)` is at offset `close` of the masked
    * view `m`: (name start, name end, `(` offset), whitespace allowed
    * between the name and the paren. The name span is empty when no
    * identifier precedes the paren; None when the parens do not balance.
    */
  private[sql] def callEndingAt(m: String, close: Int): Option[(Int, Int, Int)] = {
    var depth = 0
    var a = close
    while (a >= 0) {
      val c = m.charAt(a)
      if (c == ')') depth += 1
      else if (c == '(') {
        depth -= 1
        if (depth == 0) {
          var fe = a - 1
          while (fe >= 0 && m.charAt(fe).isWhitespace) fe -= 1
          var fs = fe
          while (fs >= 0 && (m.charAt(fs).isLetterOrDigit ||
            m.charAt(fs) == '_')) fs -= 1
          return Some((fs + 1, fe + 1, a))
        }
      }
      a -= 1
    }
    None
  }

  private[sql] def matchParenAt(m: String, open: Int): Int = {
    var depth = 0
    var k = open
    while (k < m.length) {
      val c = m.charAt(k)
      if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth == 0) return k }
      k += 1
    }
    // generic wording: MERGE/PIVOT/UNPIVOT/recursive-CTE parsers and
    // the window rewrites all share this helper (review-caught — it
    // used to claim OVER regardless of the statement at hand)
    throw new IllegalArgumentException(
      "unbalanced parentheses in the statement")
  }

  /** Rewrite one `fn(args) OVER (spec EXCLUDE kind)` call. FILTER has
    * folded into the call's argument before this pass runs.
    */
  private def rewriteOneExclude(cur: String, c: WindowCall): String = {
    val spec = c.spec.get
    val kind = spec.exclusion
    val specP = spec.withoutExclude
    if (kind == "none") // NO OTHERS ≡ no exclusion
      return cur.substring(0, c.targetAt) + s"($specP)" + cur.substring(c.end)
    require(c.fn.nonEmpty,
      "EXCLUDE (rewritten as frame algebra) needs agg(args) [FILTER " +
        "(WHERE …)] directly before OVER — bare calls are not supported")
    require(c.filter.isEmpty,
      "a FILTER clause under EXCLUDE folds before the EXCLUDE algebra — " +
        "lower the statement through Dialect.lowerClauses")
    val fname = c.fn.toLowerCase
    require(Set("sum", "count", "avg", "min", "max").contains(fname),
      s"EXCLUDE rewrite supports SUM/COUNT/AVG (subtraction algebra) " +
        s"and MIN/MAX (before/after frame split), got $fname")
    require(!c.distinct || Set("count", "sum", "avg").contains(fname),
      "EXCLUDE over a DISTINCT aggregate is supported for COUNT/SUM/AVG " +
        "(SUM/AVG only over integral/decimal inputs — the order-free " +
        "exact fold; a float DISTINCT re-fold is not reproducibly " +
        "ordered)")
    // only a TOP-LEVEL comma is a second argument (a comma inside
    // coalesce(a, b) parens is content)
    require(!c.distinct || splitTopLevel(c.args).size == 1,
      "COUNT(DISTINCT a, b) under EXCLUDE is not supported — combine " +
        "the keys into one expression (e.g. a struct or concat)")
    val args = c.args
    val isStar = args == "*"
    require(!isStar || fname == "count", s"$fname(*) is not valid SQL")
    require(args.nonEmpty, s"$fname() needs an argument")
    val po = spec.partitionOrder
    val frameText = spec.frameText
    val orderPresent = spec.order >= 0
    // min/max take the before/after ROWS-frame split path (w15):
    // frame minus current row = combine(agg(start‥1 PRECEDING),
    // agg(1 FOLLOWING‥end)) — exact for any agg whose merge is its own
    // combine, which subtraction-decomposable algebra can't cover
    if (fname == "min" || fname == "max")
      return cur.substring(0, c.start) +
        minMaxExclude(fname, args, po, frameText, kind, orderPresent) +
        cur.substring(c.end)
    // COUNT(DISTINCT x) takes the collect-and-dedup split path (w18):
    // subtraction algebra cannot remove a value that also occurs
    // elsewhere in the frame, so the frame's before/after slices are
    // COLLECTED and the distinct count is the size of the deduplicated
    // concatenation — exact for any element type
    if (c.distinct)
      return cur.substring(0, c.start) +
        distinctExclude(fname, args, po, frameText, kind, orderPresent) +
        cur.substring(c.end)
    validateExcludeFrame(frameText, kind, orderPresent)
    require(kind == "current" || orderPresent,
      s"EXCLUDE ${kind.toUpperCase} needs an ORDER BY in the window " +
        "spec — without one every partition row is a peer")
    val peers = s"$po RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
    // ---- the algebra ----
    def cnt(overSpec: String): String =
      if (isStar) s"COUNT(*) OVER ($overSpec)"
      else s"COUNT($args) OVER ($overSpec)"
    val fullCnt = cnt(specP)
    val curCnt =
      if (isStar) "1" else s"(CASE WHEN ($args) IS NULL THEN 0 ELSE 1 END)"
    val minusCnt = kind match {
      case "current" => curCnt
      case "group"   => cnt(peers)
      case "ties"    => s"(${cnt(peers)} - $curCnt)"
    }
    val exprOut =
      if (fname == "count") s"(${fullCnt} - $minusCnt)"
      else {
        val fullSum = s"SUM($args) OVER ($specP)"
        val peerSum = s"COALESCE(SUM($args) OVER ($peers), 0)"
        val curVal = s"COALESCE(($args), 0)"
        val minusSum = kind match {
          case "current" => curVal
          case "group"   => peerSum
          case "ties"    => s"($peerSum - $curVal)"
        }
        if (fname == "sum")
          s"(CASE WHEN ($fullCnt - $minusCnt) = 0 THEN NULL " +
            s"ELSE $fullSum - $minusSum END)"
        else // avg = excluded sum / excluded count, one double division
          s"(CASE WHEN ($fullCnt - $minusCnt) = 0 THEN NULL " +
            s"ELSE CAST($fullSum - $minusSum AS DOUBLE) / " +
            s"($fullCnt - $minusCnt) END)"
      }
    cur.substring(0, c.start) + exprOut + cur.substring(c.end)
  }

  /** Split a frame body (`[between] <start> [and <end>]` after the mode
    * keyword) into its bounds; a single bound means `… AND CURRENT ROW`.
    */
  private def frameBounds(t: String, frameText: String): (String, String) = {
    val body = t.substring(
      if (t.startsWith("groups")) 6 else if (t.startsWith("rows")) 4
      else 5).trim
    if (body.startsWith("between")) {
      val andPos = body.indexOf(" and ")
      require(andPos > 0, s"malformed frame: $frameText")
      (body.substring(7, andPos).trim, body.substring(andPos + 5).trim)
    } else (body, "current row")
  }

  /** w15/w16: MIN/MAX with EXCLUDE — subtraction algebra does not apply
    * (min has no inverse), so the frame minus the excluded slice splits
    * into the pieces BEFORE and AFTER it, combined with LEAST/GREATEST
    * (both skip NULLs in Spark, so an empty slice — min of nothing —
    * drops out of the combine, and all-empty yields NULL, the
    * standard's answer).
    *
    * EXCLUDE CURRENT ROW (w15) splits at the row: two ROWS frames
    * (start‥1 PRECEDING and 1 FOLLOWING‥end). Requires a
    * row-addressable frame: an explicit ROWS frame, a RANGE frame
    * unbounded at BOTH ends (the identical row set), or no frame with
    * no ORDER BY (the whole partition). The default frame UNDER an
    * ORDER BY is RANGE ‥ CURRENT ROW including peers — its row edge is
    * not ROWS-expressible, so it refuses with the fix spelled out.
    *
    * EXCLUDE GROUP / TIES (w16) split at the PEER GROUP: two GROUPS
    * frames (start‥1 group PRECEDING and 1 group FOLLOWING‥end) — the
    * emitted GROUPS specs lower through [[rewriteGroupsFrames]]'s
    * dense_rank group index (w14), which runs after this pass. TIES
    * keeps the current row itself: its value joins the combine as a
    * third leg. The original frame translates into GROUPS space:
    * GROUPS bounds carry over verbatim; RANGE bounds must be
    * UNBOUNDED/CURRENT ROW (a RANGE edge at CURRENT ROW IS a group
    * boundary, numeric RANGE offsets are not group-addressable); ROWS
    * frames only when unbounded at both ends (a bounded ROWS frame can
    * cut a peer group mid-way); the default ORDER BY frame is GROUPS
    * UNBOUNDED PRECEDING‥CURRENT ROW exactly.
    */
  private def minMaxExclude(fname: String, args: String, po: String,
                            frameText: String, kind: String,
                            orderPresent: Boolean): String = {
    val t = frameText.trim.toLowerCase.replaceAll("\\s+", " ")
    val combine = if (fname == "min") "LEAST" else "GREATEST"
    def emit(parts: Seq[String]): String = parts match {
      // the excluded slice was the whole frame: min of nothing is NULL
      case Nil => s"(CASE WHEN 1 = 0 THEN ($args) END)"
      case Seq(p) => s"($p)"
      case ps => s"$combine(${ps.mkString(", ")})"
    }
    if (kind == "current") {
      val (start, end) = excludeRowBounds(fname, t, frameText, orderPresent)
      val before =
        if (start == "current row") None
        else Some(s"$fname($args) OVER ($po ROWS BETWEEN $start AND 1 " +
          "PRECEDING)")
      val after =
        if (end == "current row") None
        else Some(s"$fname($args) OVER ($po ROWS BETWEEN 1 FOLLOWING AND " +
          s"$end)")
      emit(Seq(before, after).flatten)
    } else { // group | ties (w16)
      val (gs, ge) =
        excludeGroupBounds(fname, t, frameText, kind, orderPresent)
      val before =
        if (gs == "current row") None
        else Some(s"$fname($args) OVER ($po GROUPS BETWEEN $gs AND 1 " +
          "PRECEDING)")
      val after =
        if (ge == "current row") None
        else Some(s"$fname($args) OVER ($po GROUPS BETWEEN 1 FOLLOWING " +
          s"AND $ge)")
      val self = if (kind == "ties") Seq(s"($args)") else Nil
      emit(Seq(before, after).flatten ++ self)
    }
  }

  /** ROWS bounds of an EXCLUDE CURRENT ROW before/after split (w15/w18):
    * the frame's row edges, validated to contain the current row. The
    * shared refusal set: GROUPS frames (a row edge inside a peer group
    * is not GROUPS-addressable), the default RANGE frame under an ORDER
    * BY, and bounded RANGE frames.
    */
  private def excludeRowBounds(what: String, t: String, frameText: String,
                               orderPresent: Boolean): (String, String) = {
    require(!t.startsWith("groups"),
      s"$what EXCLUDE CURRENT ROW over a GROUPS frame is not " +
        "supported — a row edge inside a peer group is not " +
        "GROUPS-addressable; write the frame in ROWS mode")
    if (t.isEmpty) {
      require(!orderPresent,
        s"$what EXCLUDE CURRENT ROW under an ORDER BY needs an " +
          "explicit ROWS frame (the default RANGE frame's row edge " +
          "is not ROWS-expressible) — e.g. ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW")
      ("unbounded preceding", "unbounded following")
    } else {
      val isRows = t.startsWith("rows")
      val (s0, e0) = frameBounds(t, frameText)
      require(isRows || (s0 == "unbounded preceding" &&
        e0 == "unbounded following"),
        s"$what EXCLUDE CURRENT ROW needs a ROWS frame (or RANGE " +
          s"unbounded at both ends), got: $frameText")
      require(!s0.endsWith("following"),
        s"EXCLUDE over a frame starting after the current row " +
          s"($frameText) would subtract rows outside the frame — refused")
      require(!e0.endsWith("preceding"),
        s"EXCLUDE over a frame ending before the current row " +
          s"($frameText) would subtract rows outside the frame — refused")
      (s0, e0)
    }
  }

  /** GROUPS bounds of an EXCLUDE GROUP/TIES before/after split
    * (w16/w18): the frame's peer-group edges, validated to be
    * group-addressable (GROUPS frames pass whole; ROWS only unbounded;
    * RANGE only unbounded/current-row edges).
    */
  private def excludeGroupBounds(what: String, t: String,
                                 frameText: String, kind: String,
                                 orderPresent: Boolean): (String, String) = {
    require(orderPresent,
      s"EXCLUDE ${kind.toUpperCase} needs an ORDER BY in the window " +
        "spec — without one every partition row is a peer")
    val (gs, ge) =
      if (t.isEmpty) ("unbounded preceding", "current row")
      else {
        val (s0, e0) = frameBounds(t, frameText)
        if (t.startsWith("groups")) (s0, e0)
        else if (t.startsWith("rows")) {
          require(s0 == "unbounded preceding" &&
            e0 == "unbounded following",
            s"EXCLUDE ${kind.toUpperCase} over a bounded ROWS frame " +
              s"($frameText) can cut the peer group mid-way — use a " +
              "RANGE/GROUPS frame or unbounded ROWS")
          (s0, e0)
        } else {
          require(Set("unbounded preceding", "current row")(s0) &&
            Set("current row", "unbounded following")(e0),
            s"$what EXCLUDE ${kind.toUpperCase} over a RANGE frame " +
              s"with value offsets ($frameText) is not " +
              "group-addressable — use a GROUPS frame")
          (s0, e0)
        }
      }
    require(!gs.endsWith("following"),
      s"EXCLUDE over a frame starting after the current row " +
        s"($frameText) would subtract rows outside the frame — refused")
    require(!ge.endsWith("preceding"),
      s"EXCLUDE over a frame ending before the current row " +
        s"($frameText) would subtract rows outside the frame — refused")
    (gs, ge)
  }

  /** w18: COUNT(DISTINCT x) under EXCLUDE — subtraction algebra cannot
    * remove a value that also occurs elsewhere in the frame, so the
    * frame splits into its before/after slices (w15's shape), each
    * slice COLLECTS its value set (collect_set skips NULLs exactly like
    * COUNT DISTINCT; an empty slice collects an empty set), and the
    * distinct count is the size of the deduplicated concatenation —
    * exact for any element type, no float re-fold involved. TIES adds
    * the current row's own value back as a typed singleton (empty when
    * NULL). Frame-bound validation is shared with min/max
    * ([[excludeRowBounds]]/[[excludeGroupBounds]]); the emitted GROUPS
    * specs lower through [[rewriteGroupsFrames]] afterwards. Cost:
    * bounded slices are O(frame) per row; slices anchored at UNBOUNDED
    * PRECEDING ride Spark's incremental frame processor (O(partition)
    * total); the whole-partition EXCLUDE CURRENT ROW shape skips the
    * split entirely for pure counting algebra (see the branch).
    */
  private def distinctExclude(fname: String, arg: String, po: String,
                              frameText: String, kind: String,
                              orderPresent: Boolean): String = {
    val t = frameText.trim.toLowerCase.replaceAll("\\s+", " ")
    val label = s"$fname(DISTINCT)"
    // the distinct aggregate over a combined slice array: COUNT is the
    // deduplicated size; SUM/AVG (w22) fold through the order-free
    // exact functions (empty array → NULL, SQL semantics — COUNT's
    // empty is 0, so its Nil arm stays a literal)
    def overArr(a: String): String = fname match {
      case "count" => s"CAST(size(array_distinct($a)) AS BIGINT)"
      case "sum" => s"array_sum_exact(array_distinct($a))"
      case _ => s"array_avg_exact(array_distinct($a))"
    }
    // a zero-length array CARRYING the argument's type — the Nil arm
    // must fold to a correctly-typed NULL for SUM/AVG
    def typedEmpty: String = s"slice(array($arg), 1, 0)"
    // collect_SET in every slice (dedup inside the aggregation buffer —
    // see rewriteDistinctWindow's cost note); concat of two sets can
    // still repeat a value across the sides, so the combiner keeps one
    // array_distinct over the (already small) set concatenation
    def emit(parts: Seq[String]): String = parts match {
      case Nil => // the exclusion ate the whole frame
        if (fname == "count") "CAST(0 AS BIGINT)" else overArr(typedEmpty)
      case Seq(p) => overArr(p)
      case ps => overArr(s"concat(${ps.mkString(", ")})")
    }
    if (kind == "current") {
      val (start, end) =
        excludeRowBounds(label, t, frameText, orderPresent)
      if (start == "unbounded preceding" && end == "unbounded following") {
        // whole-partition frame: pure counting/subtraction algebra, no
        // split — the distinct set loses exactly the current row's
        // value iff it occurs ONCE in the partition (count over the
        // value-keyed partition is an O(n) window, where an after-slice
        // collect would re-aggregate per row, O(n²) per partition).
        // SUM subtracts that value; AVG divides the adjusted exact sum
        // by the adjusted count — both exact for integral/decimal.
        val pOnly = partitionOnly(po)
        val keyed =
          if (pOnly.isEmpty) s"PARTITION BY ($arg)" else s"$pOnly, ($arg)"
        val once = s"CASE WHEN ($arg) IS NOT NULL AND count($arg) OVER " +
          s"($keyed) = 1 THEN 1 ELSE 0 END"
        val cntExcl = s"(size(collect_set($arg) OVER ($pOnly)) - ($once))"
        if (fname == "count") return s"CAST($cntExcl AS BIGINT)"
        val adj = s"CASE WHEN ($arg) IS NOT NULL AND count($arg) OVER " +
          s"($keyed) = 1 THEN ($arg) ELSE 0 END"
        val sumExcl = s"(array_sum_exact(collect_set($arg) OVER " +
          s"($pOnly)) - ($adj))"
        return if (fname == "sum")
          s"(CASE WHEN $cntExcl = 0 THEN NULL ELSE $sumExcl END)"
        else
          s"(CASE WHEN $cntExcl = 0 THEN CAST(NULL AS DOUBLE) " +
            s"ELSE CAST($sumExcl AS DOUBLE) / $cntExcl END)"
      }
      val before =
        if (start == "current row") None
        else Some(s"collect_set($arg) OVER ($po ROWS BETWEEN $start " +
          "AND 1 PRECEDING)")
      val after =
        if (end == "current row") None
        else Some(s"collect_set($arg) OVER ($po ROWS BETWEEN 1 " +
          s"FOLLOWING AND $end)")
      emit(Seq(before, after).flatten)
    } else { // group | ties
      val (gs, ge) = excludeGroupBounds(label, t, frameText,
        kind, orderPresent)
      val before =
        if (gs == "current row") None
        else Some(s"collect_set($arg) OVER ($po GROUPS BETWEEN $gs " +
          "AND 1 PRECEDING)")
      val after =
        if (ge == "current row") None
        else Some(s"collect_set($arg) OVER ($po GROUPS BETWEEN 1 " +
          s"FOLLOWING AND $ge)")
      val self =
        if (kind == "ties") Seq(s"filter(array($arg), __w18v -> __w18v " +
          "IS NOT NULL)")
        else Nil
      emit(Seq(before, after).flatten ++ self)
    }
  }

  /** The partition clause of a window spec, ORDER BY stripped (empty
    * when the spec has neither).
    */
  private def partitionOnly(po: String): String = {
    val ob = findTopLevelKeywordIn(stripLiterals(po), 0, "order")
    (if (ob < 0) po else po.substring(0, ob)).trim
  }

  /** Refuse frames that may not contain the slice EXCLUDE subtracts.
    * GROUPS frames pass (w16): their boundaries are whole peer groups,
    * so the peer-sum subtraction is exact; the GROUPS spec the rewrite
    * emits lowers through [[rewriteGroupsFrames]] afterwards.
    */
  private def validateExcludeFrame(frameText: String, kind: String,
                                   orderPresent: Boolean): Unit = {
    if (frameText.isEmpty) return // default frame contains current + peers
    val t = frameText.trim.toLowerCase.replaceAll("\\s+", " ")
    val isRows = t.startsWith("rows")
    val (start, end) = frameBounds(t, frameText)
    require(!start.endsWith("following"),
      s"EXCLUDE over a frame starting after the current row " +
        s"($frameText) would subtract rows outside the frame — refused")
    require(!end.endsWith("preceding"),
      s"EXCLUDE over a frame ending before the current row " +
        s"($frameText) would subtract rows outside the frame — refused")
    if (kind != "current")
      require(!isRows ||
        (start == "unbounded preceding" && end == "unbounded following"),
        s"EXCLUDE ${kind.toUpperCase} over a bounded ROWS frame " +
          s"($frameText) can cut the peer group mid-way — use a " +
          "RANGE/GROUPS frame (peers are always whole there) or " +
          "unbounded ROWS")
  }

  /** DuckDB's FROM-first statement form: `FROM t` ≡ `SELECT * FROM t`,
    * and `FROM t SELECT list <clauses>` puts the select list right
    * after the table expression (before WHERE — probed; DuckDB rejects
    * `FROM t WHERE .. SELECT ..`). The rewrite moves the list (or `*`)
    * to the front and leaves every other clause in place, so downstream
    * passes see a standard statement. Statement-head only: a leading
    * WITH is left alone (None — DuckDB's `WITH .. FROM ..` form is out
    * of scope), as is anything already SELECT-first; set-operator arms
    * after the head must themselves be standard SELECT-first statements
    * (a head-level `FROM t UNION ALL SELECT ..` gets `SELECT *`
    * prepended to the head only).
    */
  def fromFirst(sql: String): Option[String] = {
    val m = stripLiterals(sql)
    var i = 0
    while (i < m.length && m.charAt(i).isWhitespace) i += 1
    if (!wordAt(m, i, "from")) return None
    val stops = Seq("where", "group", "having", "qualify", "window",
      "order", "limit", "offset", "union", "intersect", "except")
    // the FROM-first select list belongs to the HEAD statement only: a
    // SELECT sitting past the first clause/set-operator keyword is a
    // later union arm's, not ours — pulling it forward would garble
    // "FROM t UNION ALL SELECT 1" (review-caught). Such statements take
    // the bare-FROM path (SELECT * prepended); FROM-first arms AFTER a
    // set operator are out of scope, documented above.
    val selPos = findTopLevelKeywordIn(m, i, "select")
    val headEnd = stops
      .map(k => findTopLevelKeywordIn(m, i, k)).filter(_ >= 0)
      .minOption.getOrElse(sql.length)
    if (selPos < 0 || selPos > headEnd)
      return Some("SELECT * " + sql.substring(i))
    // the select list runs until the next top-level clause keyword (the
    // set-operator stops keep a union arm out of the list)
    val listEnd = stops
      .map(k => findTopLevelKeywordIn(m, selPos + 6, k)).filter(_ >= 0)
      .minOption.getOrElse(sql.length)
    val fromPart = sql.substring(i, selPos).trim
    val list = sql.substring(selPos + 6, listEnd).trim
    val tail = sql.substring(listEnd)
    Some(s"SELECT $list $fromPart" + (if (tail.isEmpty) "" else " " + tail))
  }

  /** DuckDB's `SUMMARIZE` statement (q59): `SUMMARIZE t` /
    * `SUMMARIZE SELECT … FROM …` (FROM-first targets compose — the
    * target re-enters the full dialect pipeline). Returns the target
    * text after the keyword; the caller decides bare-identifier vs
    * query with [[isBareIdentifier]] and routes to
    * [[graft.ops.Profile.summarizeFull]]. A masked-scan first-word
    * match, so literals containing the word never trigger.
    */
  def summarizeTarget(sql: String): Option[String] = {
    val m = stripLiterals(sql)
    var i = 0
    while (i < m.length && m.charAt(i).isWhitespace) i += 1
    if (!wordAt(m, i, "summarize")) None
    else {
      val rest = sql.substring(i + "summarize".length).trim
      require(rest.nonEmpty,
        "SUMMARIZE needs a table name or a SELECT/FROM-first statement")
      Some(rest)
    }
  }

  /** Whether a [[summarizeTarget]] is a bare table identifier — plain
    * (`t`), dot-qualified (`db.t`), backtick-quoted (`` `my col t` ``),
    * or any dot-joined mix: all resolve via `spark.table` at the session
    * surface (the Table receiver treats ANY bare name as the receiver —
    * FROM-name-is-notional). Previously only the plain form matched, so
    * `SUMMARIZE db.t` fell through to the full sql() pipeline and died
    * with a confusing parse error (advice r14).
    */
  def isBareIdentifier(s: String): Boolean = {
    val part = "([A-Za-z_][A-Za-z0-9_]*|`[^`]+`)"
    s.matches(s"$part(\\.$part)*")
  }

  /** DuckDB's `DESCRIBE` statement (q60): `DESCRIBE t` /
    * `DESCRIBE SELECT …` — same masked-scan first-word dispatch as
    * [[summarizeTarget]], routed to
    * [[graft.ops.Profile.describeDuck]]. Deliberately replaces Spark's
    * own DESCRIBE shape at the Table surface: the dialect's contract is
    * DuckDB's output columns (column_name, column_type, null, key,
    * default, extra).
    */
  def describeTarget(sql: String): Option[String] = {
    val m = stripLiterals(sql)
    var i = 0
    while (i < m.length && m.charAt(i).isWhitespace) i += 1
    if (!wordAt(m, i, "describe")) None
    else {
      val rest = sql.substring(i + "describe".length).trim
      require(rest.nonEmpty,
        "DESCRIBE needs a table name or a SELECT/FROM-first statement")
      Some(rest)
    }
  }

  /** First table identifier after FROM, plain or backquoted, outside
    * literals and comments — the name the receiver table is bound to (the reference binds the receiver
    * regardless of the FROM name, vinum/api/table.py:219-220). A FROM
    * that is expression syntax — inside a trim/extract/substring/overlay/
    * position call, or `IS [NOT] DISTINCT FROM` — names no table.
    */
  def firstFromTable(sql: String): Option[String] = {
    val m = stripLiterals(sql)
    // the name is read from a mask that keeps backquoted identifiers, so
    // a comment between FROM and the name is still blank there
    lazy val named = stripLiterals(sql, keepBackquoted = true)
    FromRe.findAllMatchIn(m)
      .filter(h => !insideFromEmbeddingFn(m, h.start) && !isDistinctFrom(m, h.start))
      .flatMap(h => TableNameRe.findPrefixMatchOf(named.substring(skipWsAt(named, h.end))))
      .nextOption()
      .map(n => Option(n.group(1)).fold(n.matched)(_.replace("``", "`")))
  }

  /** A call to a standard-SQL function whose argument list legally
    * contains the FROM keyword (trim(BOTH 'x' FROM y), extract(year FROM
    * ts), substring(s FROM i [FOR n]), overlay(s PLACING r FROM i),
    * position), ending at its opening paren.
    */
  private val FromEmbeddingCall =
    """(?i)\b(?:trim|extract|substring|substr|overlay|position)\s*$""".r

  /** True when position `at` of the masked text `m` sits inside a paren
    * group opened by a [[FromEmbeddingCall]]: a FROM there is expression
    * syntax, never a table position. Scans from the start maintaining an
    * open-paren stack — O(statement) per call, fine at SQL-text sizes.
    */
  private[sql] def insideFromEmbeddingFn(m: String, at: Int): Boolean = {
    var open = List.empty[Int]
    var i = 0
    while (i < at) {
      val c = m.charAt(i)
      if (c == '(') open = i :: open
      else if (c == ')' && open.nonEmpty) open = open.tail
      i += 1
    }
    open.exists(o => FromEmbeddingCall.findFirstIn(m.substring(0, o)).isDefined)
  }

  /** True when the FROM at `at` of the masked text `m` closes an
    * `IS [NOT] DISTINCT FROM` comparison.
    */
  private def isDistinctFrom(m: String, at: Int): Boolean =
    DistinctFromHead.findFirstIn(m.substring(0, at)).isDefined

  private val DistinctFromHead = """(?i)\bis\s+(?:not\s+)?distinct\s+$""".r

  private val FromRe = """(?i)\bfrom\b""".r

  private val TableNameRe = """[A-Za-z_][A-Za-z0-9_]*|`((?:[^`]|``)*)`""".r

  /** Length-preserving mask: the CONTENT of '...' literals, "..." / `...`
    * quoted identifiers, and `--` / `/* */` comments becomes spaces
    * (newlines kept so line structure survives), everything else passes
    * through at the same offset. Scanners match on the masked view and
    * slice the original by the same indices.
    *
    * Quote/comment grammar tracked (matching Spark's parser, which also
    * covers the DuckDB oracle texts we share): backslash escapes a
    * following character inside '…' and "…" (Spark's default
    * escapedStringLiterals=false), `''` doubling stays inside the
    * literal (open/close collapse keeps the mask correct), and `/* */`
    * block comments NEST (both Spark ≥3.0 and DuckDB nest them). A
    * lone trailing backslash masks itself and ends with the string
    * still open — same recovery as any unterminated literal. With
    * `keepBackquoted` a `…` identifier passes through, quotes included.
    */
  /** Scan a single-quoted literal starting at the opening quote at `at`
    * in RAW text, honoring SQL doubled-quote escapes (`''` is one quote
    * INSIDE the value, not a close+reopen) and the same `\x` skip the
    * mask applies. Returns (unescaped value, index just after the
    * closing quote). The raw-scan sites that extract literal text
    * (pattern operators, file paths) must use this instead of a bare
    * `!= '\''` loop — that loop truncates `'it''s'` at the first inner
    * quote and splices the leftover back into the statement.
    */
  private[graft] def scanQuoted(sql: String, at: Int,
                                what: String): (String, Int) = {
    require(at < sql.length && sql.charAt(at) == '\'',
      s"$what needs a single-quoted literal")
    val sb = new StringBuilder
    var e = at + 1
    var closed = -1
    while (closed < 0 && e < sql.length) {
      val c = sql.charAt(e)
      if (c == '\'') {
        if (e + 1 < sql.length && sql.charAt(e + 1) == '\'') {
          sb.append('\''); e += 2
        } else closed = e + 1
      } else if (c == '\\' && e + 1 < sql.length) {
        sb.append(c).append(sql.charAt(e + 1)); e += 2
      } else { sb.append(c); e += 1 }
    }
    require(closed > 0, s"unterminated $what literal")
    (sb.toString, closed)
  }

  private[graft] def stripLiterals(sql: String, keepBackquoted: Boolean = false): String = {
    val out = new StringBuilder(sql.length)
    var i = 0
    val n = sql.length
    var state = 0 // 0 code, 1 '…', 2 "…", 3 `…`, 4 -- line, 5 /* block
    var commentDepth = 0
    while (i < n) {
      val c = sql.charAt(i)
      state match {
        case 1 | 2 =>
          val close = if (state == 1) '\'' else '"'
          if (c == '\\' && i + 1 < n) {
            out.append("  "); i += 2 // escaped char stays inside the literal
          } else {
            if (c == close) state = 0
            out.append(' '); i += 1
          }
        case 3 =>
          if (c == '`') state = 0
          out.append(if (keepBackquoted) c else ' '); i += 1
        case 4 =>
          if (c == '\n') { state = 0; out.append('\n') } else out.append(' ')
          i += 1
        case 5 =>
          if (c == '*' && i + 1 < n && sql.charAt(i + 1) == '/') {
            commentDepth -= 1
            if (commentDepth == 0) state = 0
            out.append("  "); i += 2
          } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
            commentDepth += 1; out.append("  "); i += 2
          } else { out.append(if (c == '\n') '\n' else ' '); i += 1 }
        case _ => c match {
          case '\'' => state = 1; out.append(' '); i += 1
          case '"'  => state = 2; out.append(' '); i += 1
          case '`'  => state = 3; out.append(if (keepBackquoted) c else ' '); i += 1
          case '-' if i + 1 < n && sql.charAt(i + 1) == '-' =>
            state = 4; out.append("  "); i += 2
          case '/' if i + 1 < n && sql.charAt(i + 1) == '*' =>
            state = 5; commentDepth = 1; out.append("  "); i += 2
          case _ => out.append(c); i += 1
        }
      }
    }
    out.toString
  }

  private def isIdentStart(c: Char): Boolean =
    Character.isLetter(c) || c == '_'
  private def isIdentChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '.'
}
