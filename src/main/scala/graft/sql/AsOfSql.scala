package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DuckDB-style `ASOF JOIN` in the SQL dialect.
  *
  * DuckDB parses `FROM l ASOF [LEFT] JOIN r ON l.k = r.k AND l.t >= r.t`
  * natively, and Spark SQL has no ASOF grammar — so exposing the as-of
  * capability ([[graft.ops.AsOf]], the union + one-keyed-window plan) at
  * the SQL surface makes the statement text itself the oracle: the SAME
  * query runs on both engines and must strict-match.
  *
  * Statement shape accepted (one top-level ASOF join; everything else in
  * the statement — select list, WHERE, GROUP BY, ORDER BY, LIMIT — is
  * passed through to Spark SQL over the joined result):
  *
  * {{{
  * SELECT ... FROM <lt> [AS] [la] ASOF [LEFT|INNER] JOIN <rt> [AS] [ra]
  *   ON <conjuncts> [WHERE ...] [GROUP BY ...] [ORDER BY ...] [LIMIT ...]
  * }}}
  *
  * DuckDB's `USING (k, ..., t)` shorthand is accepted too: every column
  * but the last is an equality key, the last is the ordering condition
  * with `>=` — desugared into the ON form above before parsing.
  *
  * Either operand may also be a parenthesized derived table
  * `(SELECT ...) [AS] alias` — the subquery is resolved through
  * `resolveSub`, the caller's full single-statement pipeline (so an
  * ASOF subquery recurses into this translator).
  *
  * The ON conjuncts are equality keys (`la.a = ra.b`, zero or more) plus
  * EXACTLY ONE inequality on the ordering columns, whose operator picks
  * the as-of direction, matching DuckDB's semantics:
  *
  *   - `l.t >= r.t` — backward, same-instant rows match
  *   - `l.t >  r.t` — backward, strictly earlier rows only
  *   - `l.t <= r.t` — forward, same-instant rows match
  *   - `l.t <  r.t` — forward, strictly later rows only
  *
  * (the conjunct may be written right-side-first; it is normalized).
  * `ASOF JOIN` is an inner join — left rows with no match are dropped —
  * and `ASOF LEFT JOIN` keeps them with nulls, both as in DuckDB.
  *
  * In the rewritten remainder of the statement, `la.x` resolves to the
  * left column `x`, and `ra.x` to the matched right column (internally
  * `asof_x`); a bare identifier that exists only on the right side also
  * resolves to the right column. Ties — several right rows sharing one
  * (key, time) — are UNSPECIFIED in DuckDB and unspecified here; query
  * deterministic data (unique right (key, time)) for stable output.
  *
  * Scale shape is [[graft.ops.AsOf.join]]'s: both sides tagged and
  * unioned, ONE hash shuffle on the equality key(s), a per-key sorted
  * window carry — no range join, no per-key collect. A keyless ASOF
  * (no equality conjunct) degenerates to a single global timeline sort
  * and is rejected here: at 100 TB that is a one-partition sort, and no
  * reference query needs it.
  */
object AsOfSql {

  private case class Ref(table: String, alias: String,
                         subquery: Option[String] = None)

  private case class Spec(
      left: Ref, right: Ref, leftJoin: Boolean,
      keys: Seq[(String, String)], // (left col, right col)
      leftTime: String, rightTime: String,
      strict: Boolean, direction: String,
      selectList: String, tail: String)

  /** True when the statement has a top-level `ASOF [LEFT|INNER] JOIN`
    * (outside literals, quoted identifiers, comments, and parentheses).
    * A bare `asof` identifier — a column or alias named asof — does NOT
    * fire: only the keyword followed by an optional join type and JOIN
    * routes to this translator, so `SELECT asof FROM t` runs on Spark
    * SQL unchanged.
    */
  def detect(sql: String): Boolean = {
    val masked = Dialect.stripLiterals(sql)
    var i = Dialect.findTopLevelKeywordIn(masked, 0, "asof")
    while (i >= 0) {
      var j = i + 4
      while (j < masked.length && Character.isWhitespace(masked.charAt(j))) j += 1
      // skip any join-type keywords between ASOF and JOIN — LEFT/INNER
      // are the supported kinds, the rest still route here so parse()
      // can reject them with the ASOF-specific error
      var skipped = true
      while (skipped) {
        skipped = false
        for (kind <- Seq("left", "inner", "right", "full", "outer",
          "cross", "semi", "anti"))
          if (!skipped && masked.regionMatches(true, j, kind, 0, kind.length) &&
            (j + kind.length >= masked.length ||
              !isIdentChar(masked.charAt(j + kind.length)))) {
            j += kind.length
            while (j < masked.length && Character.isWhitespace(masked.charAt(j))) j += 1
            skipped = true
          }
      }
      if (masked.regionMatches(true, j, "join", 0, 4) &&
        (j + 4 >= masked.length || !isIdentChar(masked.charAt(j + 4))))
        return true
      i = Dialect.findTopLevelKeywordIn(masked, i + 4, "asof")
    }
    false
  }

  /** The name the rest of the statement reads the joined frame under. */
  private val Joined = "__asof_join__"

  /** Parse and join: the rest of the statement, reading the joined frame
    * as [[Joined]], and that binding. `resolve` maps a table name from
    * the statement to its DataFrame (the caller's names, then its
    * surface: the receiver or the session catalog), `resolveSub`
    * evaluates a derived-table operand's subquery.
    */
  def join(sql: String, resolve: String => DataFrame,
           resolveSub: String => DataFrame): (String, (String, DataFrame)) = {
    val spec = parse(sql)
    def side(ref: Ref): DataFrame = ref.subquery match {
      case Some(q) => resolveSub(q)
      case None    => resolve(ref.table)
    }
    val lDf = side(spec.left)
    val rDf = side(spec.right)
    val lCols = lDf.columns.toSeq
    val rCols = rDf.columns.toSeq
    spec.keys.foreach { case (lk, rk) =>
      require(lCols.exists(_.equalsIgnoreCase(lk)),
        s"ASOF JOIN key ${spec.left.alias}.$lk is not a column of ${spec.left.table}")
      require(rCols.exists(_.equalsIgnoreCase(rk)),
        s"ASOF JOIN key ${spec.right.alias}.$rk is not a column of ${spec.right.table}")
    }
    val clash = lCols.filter(c => rCols.exists(r => s"asof_$r".equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"left columns ${clash.mkString(", ")} collide with the asof_* names " +
        "carried for the right side; rename them first")
    // AsOf.join looks the time columns up in the schema (case-SENSITIVE);
    // normalize the SQL-text spelling to the actual column names
    def actual(cols: Seq[String], name: String, side: String): String =
      cols.find(_.equalsIgnoreCase(name)).getOrElse(throw new IllegalArgumentException(
        s"ASOF ordering column $name is not a column of the $side table"))
    val leftTime = actual(lCols, spec.leftTime, "left")
    val rightTime = actual(rCols, spec.rightTime, "right")

    // composite (or single) equality key as one struct column on each
    // side; field names are POSITIONAL (k0, k1, ...) so the two sides'
    // struct types are identical even when the key column names differ
    // (events.user_id = orders.o_custkey)
    val lNorm = lDf.withColumn("__asof_k",
      struct(spec.keys.zipWithIndex.map { case ((lk, _), i) => col(lk).as(s"k$i") }: _*))
    // SQL equality never matches NULL (`l.k = r.k` is NULL, not true),
    // but the struct shuffle key compares null fields EQUAL — so drop
    // right rows with any null key column (they can match nothing).
    // Null-key LEFT rows then group with no right rows at all and come
    // out unmatched, exactly DuckDB's answer, with no extra pass.
    val rNonNullKeys = spec.keys
      .map { case (_, rk) => col(rk).isNotNull }
      .reduce(_ && _)
    val rNorm = rDf.filter(rNonNullKeys)
      .withColumn("__asof_k",
        struct(spec.keys.zipWithIndex.map { case ((_, rk), i) => col(rk).as(s"k$i") }: _*))
      // ties are unspecified (doc above): a constant id keeps AsOf.join's
      // tie-break clause inert instead of inventing an undeclared order
      .withColumn("__asof_id", lit(0L))

    val joined = graft.ops.AsOf.join(
      lNorm, rNorm,
      keyCol = "__asof_k",
      leftTimeCol = leftTime, rightTimeCol = rightTime,
      valueCols = rCols,
      rightIdCol = "__asof_id",
      strict = spec.strict, direction = spec.direction)
      .drop("__asof_k")

    // ASOF (inner): drop left rows with no match. The matched right TIME
    // column is never null on a match (it ordered the match), so it is
    // the match indicator.
    val matchedFlag = col(s"asof_$rightTime")
    val result = if (spec.leftJoin) joined else joined.filter(matchedFlag.isNotNull)

    val sel = rewriteRefs(spec.selectList, spec, lCols, rCols)
    val tail = rewriteRefs(spec.tail, spec, lCols, rCols)
    (s"SELECT $sel FROM $Joined $tail", Joined -> result)
  }

  // ---------------------------------------------------------------- parse

  private def parse(sql: String): Spec = {
    // one mask for every keyword scan (offsets are mask-stable)
    val masked = Dialect.stripLiterals(sql)
    val sel = Dialect.findTopLevelKeywordIn(masked, 0, "select")
    require(sel >= 0, "ASOF JOIN statement must start with SELECT")
    val from = Dialect.findTopLevelKeywordIn(masked, sel + 6, "from")
    require(from >= 0, "ASOF JOIN statement needs a FROM clause")
    val asof = Dialect.findTopLevelKeywordIn(masked, from + 4, "asof")
    require(asof >= 0, "no top-level ASOF keyword")
    val join = Dialect.findTopLevelKeywordIn(masked, asof + 4, "join")
    require(join >= 0, "ASOF must be followed by JOIN")
    val joinKind = sql.substring(asof + 4, join).trim.toLowerCase
    val leftJoin = joinKind match {
      case ""      => false
      case "inner" => false
      case "left"  => true
      case other => throw new IllegalArgumentException(
        s"unsupported ASOF join type '$other' (LEFT / INNER / default only)")
    }
    val on = Dialect.findTopLevelKeywordIn(masked, join + 4, "on")
    val usingKw = Dialect.findTopLevelKeywordIn(masked, join + 4, "using")
    // DuckDB's USING shorthand: all but the LAST column are equality
    // keys, the last is the ordering condition with >= (backward,
    // same-instant matches) — translated here into the ON form
    if (on < 0 && usingKw >= 0) {
      val open = masked.indexOf('(', usingKw + 5)
      require(open >= 0, "ASOF JOIN USING needs a parenthesized column list")
      val close = Dialect.matchParenAt(masked, open)
      val cols = sql.substring(open + 1, close).split(",").map(_.trim).toSeq
      require(cols.size >= 2,
        "ASOF JOIN USING needs at least (key, ordering) — a single " +
          "column would be a keyless as-of (one global sort)")
      require(cols.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
        s"ASOF JOIN USING takes bare column names, got: ${cols.mkString(", ")}")
      val leftRefU = parseRef(sql.substring(from + 4, asof))
      val rightRefU = parseRef(sql.substring(join + 4, usingKw))
      val la = leftRefU.alias
      val ra = rightRefU.alias
      val onText = (cols.dropRight(1).map(c => s"$la.$c = $ra.$c") :+
        s"$la.${cols.last} >= $ra.${cols.last}").mkString(" AND ")
      val rewritten = sql.substring(0, usingKw) + s"ON $onText" +
        sql.substring(close + 1)
      return parse(rewritten)
    }
    require(on >= 0, "ASOF JOIN requires an ON (or USING) clause")
    var condEnd = sql.length
    for (kw <- Seq("where", "group", "having", "qualify", "order", "limit", "offset")) {
      val i = Dialect.findTopLevelKeywordIn(masked, on + 2, kw)
      if (i >= 0 && i < condEnd) condEnd = i
    }
    val leftRef = parseRef(sql.substring(from + 4, asof))
    val rightRef = parseRef(sql.substring(join + 4, on))

    val conjuncts = splitTopLevelAnd(sql.substring(on + 2, condEnd))
    var keys = Vector.empty[(String, String)]
    var ineq: Option[(String, String, String)] = None // (op, leftCol, rightCol)
    conjuncts.foreach { cj =>
      val (q1, c1, op, q2, c2) = parseConjunct(cj)
      def sideOf(q: String): Boolean = { // true = left
        if (q.equalsIgnoreCase(leftRef.alias)) true
        else if (q.equalsIgnoreCase(rightRef.alias)) false
        else throw new IllegalArgumentException(
          s"ASOF ON references must be qualified by ${leftRef.alias} or " +
            s"${rightRef.alias}, got '$q' in: ${cj.trim}")
      }
      val s1 = sideOf(q1); val s2 = sideOf(q2)
      require(s1 != s2,
        s"ASOF ON conjunct must compare the two sides, got: ${cj.trim}")
      // normalize so the LEFT side is first
      val (lc, rc, nop) =
        if (s1) (c1, c2, op)
        else (c2, c1, flip(op))
      if (nop == "=") keys :+= ((lc, rc))
      else {
        require(ineq.isEmpty,
          "ASOF JOIN takes exactly one inequality conjunct, found a second: " + cj.trim)
        ineq = Some((nop, lc, rc))
      }
    }
    val (op, lt, rt) = ineq.getOrElse(throw new IllegalArgumentException(
      "ASOF JOIN needs one inequality conjunct (>=, >, <=, <) on the ordering columns"))
    require(keys.nonEmpty,
      "keyless ASOF JOIN (no equality conjunct) is a single global sort " +
        "at scale; add an equality key to the ON clause (l.k = r.k), or " +
        "use the graft.ops.AsOf API with an explicit constant key if a " +
        "global timeline is genuinely intended")
    val (direction, strict) = op match {
      case ">=" => ("backward", false)
      case ">"  => ("backward", true)
      case "<=" => ("forward", false)
      case "<"  => ("forward", true)
      case _    => throw new IllegalArgumentException(s"bad ASOF operator $op")
    }
    Spec(leftRef, rightRef, leftJoin, keys, lt, rt, strict, direction,
      selectList = sql.substring(sel + 6, from).trim,
      tail = sql.substring(condEnd).trim)
  }

  private def parseRef(text: String): Ref = {
    val t = text.trim
    if (t.startsWith("(")) {
      // derived table: (SELECT ...) [AS] alias — find the matching close
      // paren on the masked view so parens in literals cannot confuse it
      val off = text.indexOf('(')
      val close = Dialect.matchParenAt(Dialect.stripLiterals(text), off)
      val inner = text.substring(off + 1, close).trim
      require(Dialect.findTopLevelKeyword(inner, 0, "select") >= 0,
        s"parenthesized ASOF operand must be a SELECT subquery: '$t'")
      val aliasToks =
        text.substring(close + 1).trim.split("\\s+").toSeq.filter(_.nonEmpty)
      val alias = aliasToks match {
        case Seq(a)                                   => a
        case Seq(as, a) if as.equalsIgnoreCase("as")  => a
        case _ => throw new IllegalArgumentException(
          "a derived-table ASOF operand needs an alias: (SELECT ...) AS x")
      }
      Ref(alias, alias, Some(inner))
    } else {
      val toks = t.split("\\s+").toSeq.filter(_.nonEmpty)
      toks match {
        case Seq(tb)                                    => Ref(tb, tb)
        case Seq(tb, a)                                 => Ref(tb, a)
        case Seq(tb, as, a) if as.equalsIgnoreCase("as") => Ref(tb, a)
        case _ => throw new IllegalArgumentException(
          s"cannot parse ASOF table reference: '$t'")
      }
    }
  }

  private val ConjunctRe =
    """(?s)^\s*([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)\s*(>=|<=|=|>|<)\s*([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)\s*$""".r

  private def parseConjunct(cj: String): (String, String, String, String, String) =
    ConjunctRe.findFirstMatchIn(cj) match {
      case Some(m) => (m.group(1), m.group(2), m.group(3), m.group(4), m.group(5))
      case None => throw new IllegalArgumentException(
        "ASOF ON conjuncts must be qualified column comparisons " +
          s"(alias.col <op> alias.col), got: ${cj.trim}")
    }

  private def flip(op: String): String = op match {
    case ">=" => "<="
    case "<=" => ">="
    case ">"  => "<"
    case "<"  => ">"
    case other => other // "=" is symmetric
  }

  /** AND-split at paren depth 0 on the masked view (an AND inside a
    * string literal or a nested paren never splits).
    */
  private def splitTopLevelAnd(s: String): Seq[String] = {
    val m = Dialect.stripLiterals(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < m.length) {
      val c = m.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && m.regionMatches(true, i, "and", 0, 3) &&
        (i == 0 || !isIdentChar(m.charAt(i - 1))) &&
        (i + 3 >= m.length || !isIdentChar(m.charAt(i + 3)))) {
        out += s.substring(start, i)
        start = i + 3
        i += 2
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  /** Rewrite alias-qualified references in the select list / tail onto
    * the joined view's names: `la.x` -> `x`, `ra.x` -> `asof_x`, and a
    * bare identifier that names a right-ONLY column -> `asof_x`. Quote-
    * and comment-aware via the masked view; function calls and idents
    * qualified by anything else pass through.
    */
  private def rewriteRefs(text: String, spec: Spec,
                          lCols: Seq[String], rCols: Seq[String]): String = {
    if (text.isEmpty) return text
    val m = Dialect.stripLiterals(text)
    val lSet = lCols.map(_.toLowerCase).toSet
    val rOnly = rCols.map(_.toLowerCase).toSet -- lSet
    val out = new StringBuilder(text.length + 16)
    var i = 0
    while (i < text.length) {
      val mc = m.charAt(i)
      if (isIdentStartChar(mc)) {
        var j = i + 1
        while (j < m.length && isIdentChar(m.charAt(j))) j += 1
        val word = text.substring(i, j)
        val prevDot = i > 0 && m.charAt(i - 1) == '.'
        val isLeftQ = word.equalsIgnoreCase(spec.left.alias)
        val isRightQ = word.equalsIgnoreCase(spec.right.alias)
        if (!prevDot && (isLeftQ || isRightQ) &&
          j < m.length && m.charAt(j) == '.' &&
          j + 1 < m.length && isIdentStartChar(m.charAt(j + 1))) {
          var k = j + 2
          while (k < m.length && isIdentChar(m.charAt(k))) k += 1
          val colName = text.substring(j + 1, k)
          if (isLeftQ) out.append('`').append(colName).append('`')
          else out.append("`asof_").append(colName).append('`')
          i = k
        } else if (!prevDot && rOnly.contains(word.toLowerCase) &&
          !(j < m.length && (m.charAt(j) == '(' || m.charAt(j) == '.'))) {
          out.append("`asof_").append(word).append('`')
          i = j
        } else {
          out.append(word)
          i = j
        }
      } else {
        out.append(text.charAt(i))
        i += 1
      }
    }
    out.toString
  }

  private def isIdentStartChar(c: Char): Boolean =
    Character.isLetter(c) || c == '_'
  private def isIdentChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'
}
