package graft.sql

import org.apache.spark.sql.DataFrame

/** DuckDB-style `POSITIONAL JOIN` in the SQL dialect (j12) — pair rows
  * by position, shorter side NULL-padded, lowered onto
  * [[graft.ops.Zip.positionalJoin]] (zipWithIndex + one equi-join on
  * the position). Spark SQL has no positional-join grammar.
  *
  * Statement shape (one top-level POSITIONAL JOIN; the rest of the
  * statement runs over the zipped result):
  *
  * {{{
  * SELECT ... FROM <lt> [AS] [la] POSITIONAL JOIN <rt> [AS] [ra]
  *   [WHERE ...] [GROUP BY ...] [ORDER BY ...] [LIMIT ...]
  * }}}
  *
  * Operands may be bare table names or parenthesized derived tables.
  * Row order is each operand's own order — give a derived table an
  * ORDER BY when position should mean something (the zip executes the
  * operand's plan behind an RDD boundary, so the sort is preserved
  * where a plain subquery-under-join would lose it). The two sides'
  * column names must be disjoint (the zip's contract); alias-qualified
  * references in the remainder (`la.x`) resolve by dropping the
  * qualifier.
  */
object PositionalSql {

  private final case class Ref(table: String, alias: String,
                               subquery: Option[String])

  import Dialect.{findTopLevelKeywordIn, stripLiterals, wordAt,
    matchParenAt => matchParen, skipWsAt => skipWs}

  /** True when the statement carries a top-level `POSITIONAL JOIN` —
    * a bare identifier `positional` never fires.
    */
  def detect(sql: String): Boolean = {
    val m = stripLiterals(sql)
    var i = findTopLevelKeywordIn(m, 0, "positional")
    while (i >= 0) {
      if (wordAt(m, skipWs(m, i + 10), "join")) return true
      i = findTopLevelKeywordIn(m, i + 10, "positional")
    }
    false
  }

  /** The name the rest of the statement reads the zipped frame under. */
  private val Joined = "__pos_join__"

  /** Parse and zip: the rest of the statement, reading the zipped frame
    * as [[Joined]], and that binding. Bare operand names resolve through
    * `resolve`, derived tables through `resolveSub` (the caller's full
    * pipeline).
    */
  def join(sql: String, resolve: String => DataFrame,
           resolveSub: String => DataFrame): (String, (String, DataFrame)) = {
    val m = stripLiterals(sql)
    val sel = findTopLevelKeywordIn(m, 0, "select")
    require(sel >= 0, "POSITIONAL JOIN statement must start with SELECT")
    // a WITH head would silently vanish (the statement is reassembled
    // from the SELECT) — refuse loudly, like rewriteGroupsFrames does
    require(skipWs(m, 0) == sel,
      "POSITIONAL JOIN statements must start with SELECT — inline the " +
        "WITH clause into the operands")
    val from = findTopLevelKeywordIn(m, sel + 6, "from")
    require(from >= 0, "POSITIONAL JOIN statement needs a FROM clause")
    val pos = findTopLevelKeywordIn(m, from + 4, "positional")
    require(pos >= 0, "no top-level POSITIONAL keyword")
    val join = findTopLevelKeywordIn(m, pos + 10, "join")
    require(join >= 0 && sql.substring(pos + 10, join).trim.isEmpty,
      "POSITIONAL must be immediately followed by JOIN")
    // GROUP/ORDER bound the tail only when followed by BY: without the
    // check a right-operand alias spelled `order` or `group` would
    // silently truncate the operand and reinterpret the alias as tail
    // text (advice r16; aliases named after the non-BY keywords are
    // rejected in stripAs instead)
    var tailStart = sql.length
    for (kw <- Seq("where", "group", "having", "qualify", "order",
      "limit", "offset", "window")) {
      var k = findTopLevelKeywordIn(m, join + 4, kw)
      while ((kw == "group" || kw == "order") && k >= 0 &&
        !wordAt(m, skipWs(m, k + kw.length), "by"))
        k = findTopLevelKeywordIn(m, k + kw.length, kw)
      if (k >= 0 && k < tailStart) tailStart = k
    }
    require(findTopLevelKeywordIn(m, join + 4, "positional") < 0,
      "one POSITIONAL JOIN per statement — nest the second in a " +
        "derived table")
    val leftRef = parseRef(sql.substring(from + 4, pos))
    val rightRef = parseRef(sql.substring(join + 4, tailStart))
    require(!leftRef.alias.equalsIgnoreCase(rightRef.alias),
      s"POSITIONAL JOIN operand aliases collide ('${leftRef.alias}')")
    def side(r: Ref): DataFrame = r.subquery match {
      case Some(q) => resolveSub(q)
      case None    => resolve(r.table)
    }
    val zipped = graft.ops.Zip.positionalJoin(side(leftRef), side(rightRef))
    val dropQual = (t: String) =>
      Seq(leftRef.alias, rightRef.alias).foldLeft(t)(stripQualifier)
    val selList = dropQual(sql.substring(sel + 6, from).trim)
    val tail = dropQual(sql.substring(tailStart).trim)
    (s"SELECT $selList FROM $Joined $tail", Joined -> zipped)
  }

  /** `name [AS alias]` or `( subquery ) [AS] alias` — the MergeSql
    * shapes; a bare name is its own alias.
    */
  private def parseRef(text: String): Ref = {
    val t = text.trim
    require(t.nonEmpty, "empty POSITIONAL JOIN operand")
    if (t.head == '(') {
      val m = stripLiterals(text)
      val off = text.indexOf('(')
      val close = matchParen(m, off)
      val alias = stripAs(text.substring(close + 1).trim)
      require(alias.nonEmpty,
        "a POSITIONAL JOIN derived table needs an alias: (…) AS name")
      Ref(alias, alias, Some(text.substring(off + 1, close).trim))
    } else {
      val parts = t.split("\\s+").toSeq
      require(Dialect.isBareIdentifier(parts.head),
        s"POSITIONAL JOIN operand must be a table name or (subquery), " +
          s"got: $t")
      val alias = stripAs(parts.tail.mkString(" "))
      Ref(parts.head, if (alias.nonEmpty) alias else parts.head, None)
    }
  }

  // clause keywords an operand alias may not shadow: the tail-boundary
  // scan above could not tell such an alias from the clause it names
  private val ReservedAliases: Set[String] = Set(
    "where", "group", "having", "qualify", "order", "limit", "offset",
    "window", "positional", "join", "on", "using", "select", "from")

  private def stripAs(s: String): String = {
    val t = s.trim
    val hadAs = t.length >= 2 && t.substring(0, 2).equalsIgnoreCase("as") &&
      (t.length == 2 || t.charAt(2).isWhitespace)
    val out = if (hadAs) t.substring(2).trim else t
    // `AS <clause keyword>` leaves a dangling AS here (the tail scan
    // already claimed the keyword) — refuse instead of silently taking
    // the table name as the alias and the keyword as tail text
    require(!hadAs || out.nonEmpty,
      "dangling AS — a POSITIONAL JOIN operand alias may not be a " +
        "clause keyword; rename the alias")
    require(out.isEmpty || out.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"malformed POSITIONAL JOIN alias: '$s'")
    require(!ReservedAliases(out.toLowerCase),
      s"'$out' is a clause keyword — rename the POSITIONAL JOIN " +
        "operand alias")
    out
  }

  /** Drop `alias.` qualifiers on the masked view: the zipped frame
    * carries both sides' (disjoint) columns bare.
    */
  private def stripQualifier(text: String, alias: String): String = {
    val m = stripLiterals(text)
    val out = new StringBuilder
    var i = 0
    while (i < text.length) {
      if (wordAt(m, i, alias) && i + alias.length < m.length &&
        m.charAt(i + alias.length) == '.')
        i += alias.length + 1
      else { out += text.charAt(i); i += 1 }
    }
    out.toString
  }
}
