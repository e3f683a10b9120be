package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DuckDB-style sampling clauses (q64): the query-level
  * `… USING SAMPLE <spec>` and the table-level
  * `FROM t TABLESAMPLE (<spec>)`, with
  *
  *   spec := [method(] n% | n PERCENT | n ROWS | n [)] [(method[, seed])]
  *
  * (bare `n` means n ROWS, DuckDB's default; methods
  * bernoulli/system/reservoir are accepted for grammar compatibility).
  *
  * DOCUMENTED DIVERGENCE from engine-native sampling: DuckDB draws with
  * a PRNG, so two runs disagree unless seeded; this engine lowers BOTH
  * forms onto the deterministic md5 bucket grid every sampling operator
  * here uses ([[graft.ops.Sampling]] — 16-bit md5 prefix of the
  * relation's FIRST column, 65536 buckets):
  *
  *   - percent: keep rows whose bucket < floor(pct/100 · 65536) — a
  *     map-only filter (no shuffle, no RNG state, granularity 1/65536),
  *     reproducible across runs, engines, and partitionings. Because the
  *     gate keys on the first column, rows sharing its value are kept or
  *     dropped TOGETHER (consistent-by-key sampling — the property that
  *     keeps a sampled eval set stable as the corpus grows).
  *   - rows: keep the n lowest (md5(first column), first column) rows —
  *     a bounded TakeOrderedAndProject, never a full sort-shuffle. Fully
  *     deterministic when the first column is row-unique; with
  *     duplicates the pick among rows tied on it is engine-order.
  *
  * A sampling METHOD name and a SEED are accepted and ignored: the gate
  * is already a pure function of the data, which is strictly stronger
  * than the reproducibility a seed buys. Oracles mirror the gate
  * expression verbatim (`CAST('0x' || substr(md5(…),1,4) AS INTEGER)`).
  *
  * `USING SAMPLE` applies to the statement's RESULT (before the
  * trailing ORDER BY / LIMIT, which this split hands back as `tail`);
  * `TABLESAMPLE` applies to the base table before the rest of the
  * query, SQL-standard placement. Spark's own nondeterministic
  * `TABLESAMPLE` grammar is intercepted — it never reaches the native
  * parser from the dialect surface.
  */
object SampleSql {

  sealed trait Spec
  /** pct in [0, 100]; threshold floors onto the 65536-bucket grid. */
  final case class Percent(pct: Double) extends Spec
  final case class Rows(n: Long) extends Spec

  private val Buckets = 65536L

  import Dialect.{findTopLevelKeywordIn, stripLiterals, wordAt}
  import Dialect.{callEndingAt, matchParenAt, skipWsAt}

  /** Bucket threshold for a percent spec — shared by the DataFrame gate
    * and the TABLESAMPLE text gate so the two forms cannot drift.
    */
  def threshold(pct: Double): Long =
    math.min(Buckets, math.max(0L, math.floor(pct / 100.0 * Buckets).toLong))

  // ---------------------------------------------------------------- parse

  private val SpecRe =
    ("""(?is)^\s*(?:(bernoulli|system|reservoir)\s*\(\s*)?""" +
      """([0-9]+(?:\.[0-9]+)?)\s*(%|percent|rows)?\s*(\))?""" +
      """\s*(?:\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*(?:,\s*[0-9]+\s*)?\))?\s*$""").r

  /** Parse a sample-spec text (already masked-clean — callers slice it
    * out of the statement between keywords, so no literal can hide in
    * it). Loud on malformed shapes.
    */
  def parseSpec(text: String): Spec = SpecRe.findFirstMatchIn(text) match {
    case None => throw new IllegalArgumentException(
      s"malformed sample specification: '${text.trim}' — expected " +
        "n% | n PERCENT | n ROWS | n, optionally method-wrapped")
    case Some(m) =>
      require((m.group(1) != null) == (m.group(4) != null),
        s"unbalanced parens in sample specification: '${text.trim}'")
      val num = m.group(2).toDouble
      val unit = Option(m.group(3)).map(_.toLowerCase) match {
        case Some("%") | Some("percent") => "percent"
        case Some("rows") => "rows"
        // method defaults: bernoulli/system are percentage samplers,
        // reservoir (and the bare form) count rows — DuckDB's rules
        case _ => Option(m.group(1)).map(_.toLowerCase) match {
          case Some("bernoulli") | Some("system") => "percent"
          case _ => "rows"
        }
      }
      if (unit == "percent") {
        require(num <= 100.0, s"sample percentage $num is over 100")
        Percent(num)
      } else {
        require(num == math.floor(num) && !m.group(2).contains('.'),
          s"sample row count must be an integer, got ${m.group(2)}")
        require(num <= Int.MaxValue.toDouble,
          s"sample row count ${m.group(2)} exceeds the LIMIT range")
        Rows(num.toLong)
      }
  }

  /** Split a top-level `USING SAMPLE` clause: Some((inner statement,
    * spec, trailing ORDER BY/LIMIT/OFFSET text)) — None when absent.
    * The USING of `JOIN … USING (cols)` never matches (next word is a
    * paren, not SAMPLE); masked scan, so literals/comments can't
    * trigger.
    */
  def splitUsingSample(sql: String): Option[(String, Spec, String)] = {
    val m = stripLiterals(sql)
    var i = 0
    var depth = 0
    var at = -1
    var specStart = -1
    while (i < m.length && at < 0) {
      val c = m.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0 && wordAt(m, i, "using")) {
        val k = skipWsAt(m, i + 5)
        if (wordAt(m, k, "sample")) { at = i; specStart = k + 6 }
      }
      i += 1
    }
    if (at < 0) return None
    var end = sql.length
    for (kw <- Seq("order", "limit", "offset")) {
      val idx = findTopLevelKeywordIn(m, specStart, kw)
      if (idx >= 0 && idx < end) end = idx
    }
    val spec = parseSpec(sql.substring(specStart, end))
    Some((sql.substring(0, at).trim, spec, sql.substring(end).trim))
  }

  /** Apply a sample spec to a materializable frame — the query-level
    * lowering. The gate keys on the frame's FIRST column (see the
    * object doc for the determinism contract).
    */
  def applySample(df: DataFrame, spec: Spec): DataFrame = {
    require(df.columns.nonEmpty, "cannot sample a zero-column relation")
    val c1 = df.col(df.columns.head)
    val h = md5(c1.cast("string"))
    spec match {
      case Percent(p) =>
        val thr = threshold(p)
        if (thr >= Buckets) df
        else df.filter(
          conv(substring(h, 1, 4), 16, 10).cast("long") < lit(thr))
      case Rows(n) =>
        // NULLS LAST on both keys: a null first column hashes to a null
        // md5, and Spark's default NULLS FIRST would select those rows
        // where DuckDB's NULLS LAST default never does (review-caught —
        // the cross-engine grid must order identically)
        df.orderBy(h.asc_nulls_last, c1.asc_nulls_last).limit(n.toInt)
    }
  }

  /** Whether the statement carries a TABLESAMPLE keyword anywhere
    * outside literals — the cheap pre-test before schema resolution.
    */
  def hasTablesample(sql: String): Boolean =
    findAnyDepth(stripLiterals(sql), "tablesample") >= 0

  private def findAnyDepth(m: String, kw: String): Int = {
    var i = 0
    while (i < m.length) {
      if (wordAt(m, i, kw)) return i
      i += 1
    }
    -1
  }

  // words that may follow `t TABLESAMPLE (…)` without being its alias
  private val TrailingKeywords: Set[String] = Set(
    "on", "where", "group", "order", "having", "qualify", "window",
    "union", "intersect", "except", "limit", "offset", "join", "inner",
    "left", "right", "full", "cross", "natural", "using", "as",
    "tablesample", "asof")

  // words that may directly precede a TABLESAMPLE'd table reference —
  // when the token before the reference's last identifier is one of
  // these, that identifier IS the table name (not an alias of an
  // earlier reference)
  private val PrecedingKeywords: Set[String] = Set(
    "from", "join", "inner", "left", "right", "full", "cross", "natural",
    "asof", "positional", "outer", "semi", "anti", "lateral")

  /** Rewrite every TABLESAMPLE'd table reference onto the md5 gate: the
    * reference becomes a parenthesized subquery aliased back to the
    * original name (or the explicit alias), so qualified column
    * references keep resolving. Accepted shapes (DuckDB-probed):
    *
    *   name TABLESAMPLE (spec) [AS alias]      — alias after the clause
    *   name [AS] alias TABLESAMPLE (spec)      — alias before (DuckDB)
    *   ( subquery ) [[AS] alias] TABLESAMPLE (spec)   — derived table
    *
    * `resolveCols` maps a reference — a bare (possibly dotted) name OR
    * the bare subquery text — to its columns; the gate needs the FIRST
    * one. Backticked names refuse loudly rather than reach Spark's
    * nondeterministic native sampler.
    */
  def rewriteTablesample(sql: String,
                         resolveCols: String => Seq[String]): String = {
    var cur = sql
    var guard = 0
    while (guard < 64) {
      val m = stripLiterals(cur)
      val ts = findAnyDepth(m, "tablesample")
      if (ts < 0) return cur
      def prevNonWs(p0: Int): Int = {
        var p = p0
        while (p >= 0 && m.charAt(p).isWhitespace) p -= 1
        p
      }
      def isIdentChar(c: Char): Boolean =
        c.isLetterOrDigit || c == '_' || c == '.'
      def identStart(pEnd: Int): Int = {
        var p = pEnd
        while (p >= 0 && isIdentChar(m.charAt(p))) p -= 1
        p + 1
      }
      // matching '(' of a ')' at `close`, scanning backwards
      def openOf(close: Int): Int = callEndingAt(m, close).map(_._3)
        .getOrElse(throw new IllegalArgumentException(
          "unbalanced parens before TABLESAMPLE"))
      // ---- the sampled reference runs BACKWARDS from TABLESAMPLE ----
      val e = prevNonWs(ts - 1)
      require(e >= 0, "TABLESAMPLE must follow a table reference")
      var name = "" // bare name when sub is None
      var sub: Option[String] = None
      var aliasPre: Option[String] = None
      var replaceFrom = -1
      if (m.charAt(e) == ')') { // ( subquery ) TABLESAMPLE
        val open = openOf(e)
        sub = Some(cur.substring(open + 1, e).trim)
        replaceFrom = open
      } else {
        require(isIdentChar(m.charAt(e)),
          "TABLESAMPLE must follow a table name, an aliased reference " +
            "or a parenthesized subquery — for a quoted name, sample at " +
            "the query level with USING SAMPLE")
        val ws = identStart(e)
        val w = cur.substring(ws, e + 1)
        val p1 = prevNonWs(ws - 1)
        def identBefore(pEnd: Int): (String, Int) = {
          val st = identStart(pEnd)
          (cur.substring(st, pEnd + 1), st)
        }
        if (p1 >= 0 && m.charAt(p1) == ')') { // ( subquery ) w TABLESAMPLE
          val open = openOf(p1)
          sub = Some(cur.substring(open + 1, p1).trim)
          aliasPre = Some(w)
          replaceFrom = open
        } else if (p1 >= 0 && isIdentChar(m.charAt(p1))) {
          val (tok, tokSt) = identBefore(p1)
          if (tok.equalsIgnoreCase("as")) {
            val p2 = prevNonWs(tokSt - 1)
            if (p2 >= 0 && m.charAt(p2) == ')') { // (subq) AS w TABLESAMPLE
              val open = openOf(p2)
              sub = Some(cur.substring(open + 1, p2).trim)
              aliasPre = Some(w)
              replaceFrom = open
            } else { // name AS w TABLESAMPLE
              require(p2 >= 0 && isIdentChar(m.charAt(p2)),
                s"malformed reference before TABLESAMPLE: … AS $w")
              val (nm, nmSt) = identBefore(p2)
              name = nm; aliasPre = Some(w); replaceFrom = nmSt
            }
          } else if (PrecedingKeywords(tok.toLowerCase)) {
            name = w; replaceFrom = ws // FROM w TABLESAMPLE
          } else { // name w TABLESAMPLE (bare alias)
            name = tok; aliasPre = Some(w); replaceFrom = tokSt
          }
        } else {
          name = w; replaceFrom = ws // statement head / after '(' or ','
        }
      }
      if (sub.isEmpty)
        require(name.nonEmpty && Dialect.isBareIdentifier(name),
          "TABLESAMPLE must follow a plain table name or a " +
            "parenthesized subquery — for a quoted name, sample at the " +
            "query level with USING SAMPLE")
      else
        require(sub.get.nonEmpty, "empty subquery under TABLESAMPLE")
      var k = skipWsAt(m, ts + "tablesample".length)
      require(k < m.length && m.charAt(k) == '(',
        "TABLESAMPLE requires a parenthesized specification")
      val close = matchParenAt(m, k)
      val spec = parseSpec(cur.substring(k + 1, close))
      // optional alias after the spec (this dialect's original shape;
      // skipped when the reference already carried one before)
      var a = skipWsAt(m, close + 1)
      var alias = aliasPre.getOrElse(
        if (sub.isEmpty) name else s"__ts_sub_$guard")
      var consumedTo = close + 1
      if (aliasPre.isEmpty) {
        if (a < m.length && wordAt(m, a, "as")) a = skipWsAt(m, a + 2)
        if (a < m.length && (m.charAt(a).isLetter || m.charAt(a) == '_')) {
          var ae = a
          while (ae < m.length && (m.charAt(ae).isLetterOrDigit ||
            m.charAt(ae) == '_')) ae += 1
          val word = cur.substring(a, ae)
          if (!TrailingKeywords(word.toLowerCase)) {
            alias = word; consumedTo = ae
          }
        }
      }
      val rel = sub.map(s => s"($s) __ts_src").getOrElse(name)
      val cols = resolveCols(sub.getOrElse(name))
      require(cols.nonEmpty, s"cannot sample a zero-column relation")
      val c1 = cols.head
      val gate = spec match {
        case Percent(p) =>
          val thr = threshold(p)
          if (thr >= Buckets) s"SELECT * FROM $rel"
          else s"SELECT * FROM $rel WHERE cast(conv(substring(" +
            s"md5(cast(`$c1` as string)), 1, 4), 16, 10) as bigint) < $thr"
        case Rows(n) =>
          s"SELECT * FROM $rel ORDER BY md5(cast(`$c1` as string)) " +
            s"NULLS LAST, `$c1` NULLS LAST LIMIT $n"
      }
      cur = cur.substring(0, replaceFrom) + s"($gate) AS $alias" +
        cur.substring(consumedTo)
      guard += 1
    }
    require(findAnyDepth(stripLiterals(cur), "tablesample") < 0,
      s"more than $guard TABLESAMPLE clauses in one statement")
    cur
  }
}
