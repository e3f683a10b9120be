package graft.sql

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._

/** `MERGE INTO` at the SQL surface (u09) — the statement form of the
  * [[graft.ops.Cdc]] upsert/delete machinery. DuckDB (≥ 1.4) executes
  *
  *   MERGE INTO target [AS t] USING source [AS s] ON cond
  *   WHEN MATCHED [AND c] THEN UPDATE SET a = e, ...
  *   WHEN MATCHED [AND c] THEN DELETE
  *   WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT ...
  *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE
  *
  * This engine's tables are immutable frames, so the statement RETURNS
  * the post-merge table (the q59/q60 statement-form convention) instead
  * of mutating in place; arms apply in TEXTUAL order, first match wins —
  * the SQL-standard priority rule.
  *
  * Execution is one FULL OUTER equi/theta join of target against source
  * plus a map-side CASE per output column — no window over either input.
  * The SQL-standard "one target row, one source row" contract is
  * enforced loudly (a bounded one-row aggregate over the matched pairs,
  * the sharedRuns-cap style) whenever any MATCHED arm exists: without
  * it a doubly-matched target row would silently duplicate.
  *
  * Scale shape: the join shuffles both sides on the ON keys once (AQE
  * broadcasts a small source); every arm is expression-level from there.
  * The multi-match guard costs one source-side aggregate for a pure
  * equi-ON; a theta/mixed ON materializes the join ONCE (eager
  * localCheckpoint) and counts matches over the checkpointed blocks —
  * guard + output pay a single join execution either way.
  */
object MergeSql {

  sealed trait Action
  final case class Update(sets: Seq[(String, String)]) extends Action
  case object Delete extends Action
  /** cols+vals: explicit list; vals only: positional over the target
    * schema; neither: INSERT * / bare INSERT — source columns by name,
    * target-only columns null.
    */
  final case class Insert(cols: Option[Seq[String]],
                          vals: Option[Seq[String]]) extends Action

  /** kind: 0 = MATCHED, 1 = NOT MATCHED [BY TARGET],
    * 2 = NOT MATCHED BY SOURCE.
    */
  final case class Arm(kind: Int, cond: Option[String], action: Action)

  final case class Stmt(targetRef: String, targetAlias: String,
                        sourceRef: String, sourceAlias: String,
                        on: String, arms: Seq[Arm])

  import Dialect.{findTopLevelKeywordIn, splitTopLevel, stripLiterals, wordAt}
  import Dialect.{matchParenAt => matchParen, skipWsAt => skipWs}

  /** Masked-scan parse; None when the statement is not a MERGE (first
    * word dispatch, so literals containing "merge" never trigger).
    * Malformed MERGE statements fail loudly from here, never fall
    * through to Spark's parser.
    */
  def parse(sql: String): Option[Stmt] = {
    val m = stripLiterals(sql)
    var i = skipWs(m, 0)
    if (!wordAt(m, i, "merge")) return None
    i = skipWs(m, i + 5)
    require(wordAt(m, i, "into"), "MERGE must be followed by INTO")
    i = skipWs(m, i + 4)
    val usingPos = findTopLevelKeywordIn(m, i, "using")
    require(usingPos > 0, "MERGE INTO requires a USING clause")
    val (tRef, tAlias) = parseRef(sql.substring(i, usingPos),
      m.substring(i, usingPos), "target")
    val onPos = findTopLevelKeywordIn(m, usingPos + 5, "on")
    require(onPos > 0, "MERGE requires an ON condition")
    val (sRef, sAlias) = parseRef(sql.substring(usingPos + 5, onPos),
      m.substring(usingPos + 5, onPos), "source")
    require(!tAlias.equalsIgnoreCase(sAlias),
      s"MERGE target and source aliases collide ('$tAlias') — alias one side")
    val firstWhen = findOutsideCase(m, onPos + 2, "when")
    require(firstWhen > 0, "MERGE requires at least one WHEN clause")
    val on = sql.substring(onPos + 2, firstWhen).trim
    require(on.nonEmpty, "empty MERGE ON condition")
    val arms = scala.collection.mutable.ArrayBuffer.empty[Arm]
    var w = firstWhen
    while (w >= 0) {
      val next = findOutsideCase(m, w + 4, "when")
      val end = if (next < 0) sql.length else next
      arms += parseArm(sql.substring(w, end), m.substring(w, end))
      w = next
    }
    Some(Stmt(tRef, tAlias, sRef, sAlias, on, arms.toSeq))
  }

  /** [[findTopLevelKeywordIn]] that additionally skips keywords inside
    * a depth-0 CASE … END: a `CASE WHEN … THEN … END` in the ON
    * condition, an arm's AND condition, or a SET expression must not be
    * mistaken for an arm boundary or the arm's THEN (review-caught — a
    * parenthesized CASE is already hidden by the depth rule, this
    * handles the unparenthesized form the standard allows).
    */
  private def findOutsideCase(m: String, from: Int, kw: String): Int = {
    var i = from
    var depth = 0
    var caseDepth = 0
    while (i < m.length) {
      val c = m.charAt(i)
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (depth == 0) {
        if (wordAt(m, i, "case")) caseDepth += 1
        else if (caseDepth > 0 && wordAt(m, i, "end")) caseDepth -= 1
        else if (caseDepth == 0 && wordAt(m, i, kw)) return i
      }
      i += 1
    }
    -1
  }

  /** `name [AS alias]` or `( subquery ) [AS] alias`; a simple name with
    * no alias is its own alias (SQL scoping).
    */
  private def parseRef(text: String, mask: String,
                       side: String): (String, String) = {
    val t = text.trim
    require(t.nonEmpty, s"empty MERGE $side reference")
    val off = text.indexOf(t.charAt(0)) // leading-ws offset into mask
    if (t.head == '(') {
      val close = Dialect.matchParenAt(mask, off)
      val ref = text.substring(off + 1, close)
      val alias = stripAs(text.substring(close + 1).trim)
      require(alias.nonEmpty,
        s"a MERGE $side subquery needs an alias (… ) AS name")
      (ref, alias)
    } else {
      val parts = t.split("\\s+").toSeq
      val name = parts.head
      require(Dialect.isBareIdentifier(name),
        s"MERGE $side must be a table name or a parenthesized subquery, " +
          s"got: $t")
      val alias = stripAs(parts.tail.mkString(" "))
      if (alias.nonEmpty) (name, alias)
      else {
        // default alias for a qualified/backticked name is its LAST
        // identifier part, backticks stripped (advice r15: aliasing the
        // frame as the raw "db.t" text makes every qualified column
        // reference unresolvable); names whose last part is not a plain
        // identifier must alias explicitly
        val last = Dialect.defaultAliasOf(name)
        require(last.matches("[A-Za-z_][A-Za-z0-9_]*"),
          s"cannot derive an alias from MERGE $side '$name' — add an " +
            "explicit alias")
        (name, last)
      }
    }
  }

  private def stripAs(s: String): String = {
    val t = s.trim
    val out = if (t.toLowerCase.startsWith("as") &&
      (t.length == 2 || t.charAt(2).isWhitespace)) t.substring(2).trim else t
    require(out.isEmpty || out.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"malformed MERGE alias: '$s'")
    out
  }

  private def parseArm(seg: String, mask: String): Arm = {
    var i = skipWs(mask, 0)
    require(wordAt(mask, i, "when"), "internal: arm must start at WHEN")
    i = skipWs(mask, i + 4)
    var not = false
    if (wordAt(mask, i, "not")) { not = true; i = skipWs(mask, i + 3) }
    require(wordAt(mask, i, "matched"),
      s"expected [NOT] MATCHED in MERGE arm: ${seg.trim.take(60)}")
    i = skipWs(mask, i + 7)
    var kind = if (not) 1 else 0
    if (wordAt(mask, i, "by")) {
      require(not, "WHEN MATCHED takes no BY TARGET/SOURCE qualifier")
      i = skipWs(mask, i + 2)
      if (wordAt(mask, i, "source")) { kind = 2; i = skipWs(mask, i + 6) }
      else if (wordAt(mask, i, "target")) { i = skipWs(mask, i + 6) }
      else require(false, "expected BY SOURCE or BY TARGET")
    }
    val thenPos = findOutsideCase(mask, i, "then")
    require(thenPos > 0, s"MERGE arm needs THEN: ${seg.trim.take(60)}")
    val cond =
      if (wordAt(mask, i, "and")) {
        val c = seg.substring(i + 3, thenPos).trim
        require(c.nonEmpty, "empty AND condition in MERGE arm")
        Some(c)
      } else {
        require(seg.substring(i, thenPos).trim.isEmpty,
          s"unexpected text before THEN: ${seg.substring(i, thenPos).trim}")
        None
      }
    var a = skipWs(mask, thenPos + 4)
    val action: Action =
      if (wordAt(mask, a, "update")) {
        require(kind != 1, "WHEN NOT MATCHED [BY TARGET] cannot UPDATE")
        a = skipWs(mask, a + 6)
        require(wordAt(mask, a, "set"), "UPDATE in MERGE requires SET")
        val sets = splitTopLevel(seg.substring(a + 3)).map { item =>
          val eq = Dialect.findTopLevelEquals(item)
          require(eq > 0, s"malformed SET assignment: ${item.trim}")
          val lhs = item.substring(0, eq).trim
          val rhs = item.substring(eq + 1).trim
          require(rhs.nonEmpty, s"empty SET expression for $lhs")
          // an optional target qualifier on the left resolves to its
          // last component (DuckDB accepts both t.c = … and c = …)
          val name = lhs.split("\\.").last
          require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
            s"SET left-hand side must be a column name, got: $lhs")
          (name, rhs)
        }
        require(sets.nonEmpty, "UPDATE SET with no assignments")
        require(sets.map(_._1.toLowerCase).distinct.size == sets.size,
          "duplicate column in UPDATE SET")
        Update(sets)
      } else if (wordAt(mask, a, "delete")) {
        require(kind != 1, "WHEN NOT MATCHED [BY TARGET] cannot DELETE")
        require(seg.substring(a + 6).trim.isEmpty,
          s"unexpected text after DELETE: ${seg.substring(a + 6).trim}")
        Delete
      } else if (wordAt(mask, a, "insert")) {
        require(kind == 1,
          "INSERT is only valid in WHEN NOT MATCHED [BY TARGET]")
        // restRaw/restMask share offsets (no trim — masking is
        // length-preserving, so index i means the same char in both)
        val restRaw = seg.substring(a + 6)
        val restMask = mask.substring(a + 6)
        val restTrim = restRaw.trim
        if (restTrim.isEmpty || restTrim == "*") Insert(None, None)
        else {
          var k = skipWs(restMask, 0)
          var cols: Option[Seq[String]] = None
          if (k < restMask.length && restMask.charAt(k) == '(') {
            val close = matchParen(restMask, k)
            cols = Some(splitTopLevel(restRaw.substring(k + 1, close))
              .map(_.trim))
            k = skipWs(restMask, close + 1)
          }
          require(wordAt(restMask, k, "values"),
            s"MERGE INSERT expects VALUES (…), INSERT * or bare INSERT, " +
              s"got: $restTrim")
          k = skipWs(restMask, k + 6)
          require(k < restMask.length && restMask.charAt(k) == '(',
            "MERGE INSERT VALUES needs a parenthesized expression list")
          val vclose = matchParen(restMask, k)
          require(skipWs(restMask, vclose + 1) >= restMask.length,
            "unexpected text after MERGE INSERT VALUES (…)")
          val vals = splitTopLevel(restRaw.substring(k + 1, vclose))
            .map(_.trim)
          cols.foreach(cs => require(cs.size == vals.size,
            s"INSERT column list (${cs.size}) and VALUES list " +
              s"(${vals.size}) differ in length"))
          cols.foreach(cs =>
            require(cs.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")),
              s"INSERT column list must be plain names, got: " +
                cs.mkString(", ")))
          Insert(cols, Some(vals))
        }
      } else {
        throw new IllegalArgumentException(
          s"MERGE arm action must be UPDATE SET / DELETE / INSERT, got: " +
            seg.substring(a).trim.take(60))
      }
    Arm(kind, cond, action)
  }

  /** First '=' at paren depth 0 that is a bare assignment (not part of
    * `>=`, `<=`, `!=`, `==`, `<>`), scanning the masked view.
    */

  // bare words that may appear inside an ON-side expression without
  // making its alias ownership ambiguous (SQL syntax, not column refs)
  private val SideKeywords: Set[String] = Set(
    "case", "when", "then", "else", "end", "and", "or", "not", "null",
    "true", "false", "in", "is", "like", "ilike", "between", "distinct",
    "interval", "escape")

  /** For a PURE equi-conjunction ON — every depth-0 AND conjunct is
    * `x = y` with one side referencing only target-alias-qualified
    * columns and the other only source-alias-qualified ones — the
    * source-side key expressions. None on anything else (theta terms,
    * bare column references, mixed sides): the caller falls back to the
    * join-based multi-match guard, which is always correct.
    */
  private[graft] def equiSourceKeys(on: String, tAlias: String,
                                    sAlias: String): Option[Seq[String]] = {
    val m = stripLiterals(on)
    // depth-0 AND split, CASE…END skipped (an AND inside an
    // unparenthesized CASE predicate is not a conjunct boundary)
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    var p = findOutsideCase(m, 0, "and")
    while (p >= 0) { bounds += p; p = findOutsideCase(m, p + 3, "and") }
    val cuts = (-3 +: bounds.toSeq) :+ on.length
    val conjuncts = cuts.sliding(2).map {
      case Seq(a, b) => on.substring(a + 3, b)
    }.toSeq
    // ownership of one side: Some('t') all-target, Some('s') all-source
    def side(text: String): Option[Char] = {
      val sm = stripLiterals(text)
      var hasT = false
      var hasS = false
      var i = 0
      while (i < sm.length) {
        val c = sm.charAt(i)
        if (c.isLetter || c == '_') {
          var j = i + 1
          while (j < sm.length && (sm.charAt(j).isLetterOrDigit ||
            sm.charAt(j) == '_')) j += 1
          val word = sm.substring(i, j)
          val qualified = i > 0 && sm.charAt(i - 1) == '.'
          var k = j
          while (k < sm.length && sm.charAt(k).isWhitespace) k += 1
          val isQualifier = k < sm.length && sm.charAt(k) == '.'
          val isCall = k < sm.length && sm.charAt(k) == '('
          if (isQualifier && !qualified) {
            if (word.equalsIgnoreCase(tAlias)) hasT = true
            else if (word.equalsIgnoreCase(sAlias)) hasS = true
            else return None // unknown qualifier — bail to the join guard
          } else if (!qualified && !isCall &&
            !SideKeywords(word.toLowerCase)) {
            return None // bare column reference — ownership unknown
          }
          i = j
        } else i += 1
      }
      if (hasT && !hasS) Some('t')
      else if (hasS && !hasT) Some('s')
      else None
    }
    val keys = conjuncts.map { c =>
      val eq = Dialect.findTopLevelEquals(c)
      if (eq < 0) return None
      val l = c.substring(0, eq)
      val r = c.substring(eq + 1)
      (side(l), side(r)) match {
        case (Some('t'), Some('s')) => r.trim
        case (Some('s'), Some('t')) => l.trim
        case _ => return None
      }
    }
    if (keys.isEmpty) None else Some(keys)
  }

  /** The "one source row per target row" guard of MERGE's MATCHED arms
    * and UPDATE … FROM. For a pure equi-conjunction (`keys`, the source
    * side from [[equiSourceKeys]]) the contract follows from source-side
    * key uniqueness, established by ONE aggregate over the aliased
    * `source` alone — the join stays lazy (strictly stronger: duplicate
    * source keys refuse even when unmatched; a NULL key never equi-matches,
    * so null keys are excluded before counting). Any other predicate
    * needs the join-based guard: `joined` is materialized ONCE with an
    * eager localCheckpoint (alias qualifiers survive it, probed), and the
    * per-`targetId` count of `matched` rows and the statement's output
    * both read the checkpointed blocks. Returns the frame the statement
    * reads next; `refuse(n, byKey)` is called with the largest count
    * when it exceeds one.
    */
  private[sql] def oneSourceRowPerTarget(source: DataFrame,
                                         keys: Option[Seq[String]],
                                         joined: DataFrame, matched: Column,
                                         targetId: String)
                                        (refuse: (Long, Boolean) => Nothing): DataFrame = {
    def largest(g: RelationalGroupedDataset): Option[Long] = {
      val mm = g.agg(count(lit(1)).as("__n")).agg(max(col("__n"))).collect().head
      if (!mm.isNullAt(0) && mm.getLong(0) > 1) Some(mm.getLong(0)) else None
    }
    keys match {
      case Some(ks) =>
        val names = ks.indices.map(i => s"__sk$i")
        val k = names.map(col)
        largest(source.select(ks.zip(names).map { case (e, n) => expr(e).as(n) }: _*)
          .filter(k.map(_.isNotNull).reduce(_ && _)).groupBy(k: _*))
          .foreach(refuse(_, true))
        joined
      case None =>
        val cp = joined.localCheckpoint(true)
        largest(cp.filter(matched).groupBy(col(targetId))).foreach(refuse(_, false))
        cp
    }
  }

  private val TFlag = "__merge_t_present"
  private val SFlag = "__merge_s_present"
  private val TId = "__merge_tid"
  private val ActCol = "__merge_act"

  /** Execute a parsed MERGE: resolve both refs (bare name → session
    * view, subquery → the caller's SQL pipeline), full-outer join on
    * the ON condition, then one CASE chain per target column. Returns
    * the post-merge table with the TARGET's schema (arm expressions
    * cast into the target column types, as a mutating MERGE would).
    * `sqlExpr` parses the ON, arm and SET expressions, with the
    * statement's names visible to their subqueries.
    */
  def run(spark: SparkSession, st: Stmt, resolve: String => DataFrame,
          sqlExpr: String => Column = expr(_)): DataFrame = {
    val t = resolve(st.targetRef)
    val s = resolve(st.sourceRef)
    Seq(TFlag, SFlag, TId, ActCol).foreach { r =>
      require(!t.columns.contains(r) && !s.columns.contains(r),
        s"MERGE reserves the column name $r")
    }
    // validate arm column references against the target schema up front
    def tCol(name: String): String =
      t.columns.find(_.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"MERGE references unknown target column '$name' " +
            s"(target has: ${t.columns.mkString(", ")})"))
    st.arms.foreach { arm =>
      arm.action match {
        case Update(sets) => sets.foreach { case (n, _) => tCol(n) }
        case Insert(Some(cs), _) => cs.foreach(tCol)
        case Insert(None, Some(vs)) => require(vs.size == t.columns.length,
          s"positional INSERT VALUES has ${vs.size} expressions, target " +
            s"has ${t.columns.length} columns")
        case _ => ()
      }
    }
    val tw = t.withColumn(TFlag, lit(true))
      .withColumn(TId, monotonically_increasing_id()).as(st.targetAlias)
    val sw = s.withColumn(SFlag, lit(true)).as(st.sourceAlias)
    val joined0 = tw.join(sw, sqlExpr(st.on), "full_outer")
    val matched = col(TFlag).isNotNull && col(SFlag).isNotNull
    val tOnly = col(TFlag).isNotNull && col(SFlag).isNull
    val sOnly = col(TFlag).isNull && col(SFlag).isNotNull
    // SQL-standard multi-match refusal, only when a MATCHED arm can
    // update or delete a target row
    val joined =
      if (!st.arms.exists(_.kind == 0)) joined0
      else oneSourceRowPerTarget(sw,
        equiSourceKeys(st.on, st.targetAlias, st.sourceAlias),
        joined0, matched, TId) { (n, byKey) =>
        throw new IllegalArgumentException(
          if (byKey)
            s"MERGE: an ON key recurs in $n source rows, so a target row " +
              s"could match $n source rows — the SQL standard forbids " +
              "updating/deleting one target row from multiple source " +
              "rows; deduplicate the source on the ON keys first " +
              "(e.g. a latest-wins window)"
          else
            s"MERGE: a target row matches $n source rows — the SQL " +
              "standard forbids updating/deleting one target row from " +
              "multiple source rows; deduplicate the source on the ON " +
              "keys first (e.g. a latest-wins window)")
      }
    // first arm wins, textual order; -1 keeps the target row, -2 drops
    // an unmatched source row (no INSERT arm fired)
    var chain: Column = null
    st.arms.zipWithIndex.foreach { case (arm, i) =>
      val kindC = arm.kind match {
        case 0 => matched
        case 1 => sOnly
        case 2 => tOnly
      }
      val c = arm.cond.map(x => kindC && sqlExpr(x)).getOrElse(kindC)
      chain = if (chain == null) when(c, lit(i)) else chain.when(c, lit(i))
    }
    val fallback = when(sOnly, lit(-2)).otherwise(lit(-1))
    val act = if (chain == null) fallback else chain.otherwise(fallback)
    val dropIdx = st.arms.zipWithIndex.collect {
      case (Arm(_, _, Delete), i) => i
    } :+ -2
    val kept0 = joined.withColumn(ActCol, act)
      .filter(!col(ActCol).isin(dropIdx: _*))
    // with NO MATCHED arm, a target row matched by several source rows
    // appears once per source row, all falling to the keep fallback —
    // emit it ONCE (review-caught: the SQL contract says every target
    // row survives a NOT-MATCHED-only merge exactly once). The rows are
    // output-identical (act = -1 projects target columns only), so the
    // window's pick is immaterial; source-only (insert) rows get their
    // own per-row partition key so no null-TId hotspot forms at scale.
    // When a MATCHED arm exists the multi-match guard above already
    // enforces one source row per target row — no dedup needed.
    val kept =
      if (st.arms.exists(_.kind == 0)) kept0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(TId),
            when(col(TId).isNull, monotonically_increasing_id())
              .otherwise(lit(0L)))
          .orderBy(col(TId))
        kept0.withColumn("__merge_rn", row_number().over(w))
          .filter(col(TId).isNull || col("__merge_rn") === 1)
          .drop("__merge_rn")
      }
    val outCols = t.schema.fields.map { f =>
      val name = f.name
      var e: Column = col(s"${st.targetAlias}.`$name`")
      st.arms.zipWithIndex.foreach { case (arm, i) =>
        val repl: Option[Column] = arm.action match {
          case Update(sets) =>
            sets.find(_._1.equalsIgnoreCase(name)).map(x => sqlExpr(x._2))
          case Insert(colsOpt, valsOpt) => Some((colsOpt, valsOpt) match {
            case (Some(cs), Some(vs)) =>
              cs.indexWhere(_.equalsIgnoreCase(name)) match {
                case -1 => lit(null)
                case k => sqlExpr(vs(k))
              }
            case (None, Some(vs)) => sqlExpr(vs(t.columns.indexOf(name)))
            case _ => // INSERT * / bare INSERT: source column by name
              s.columns.find(_.equalsIgnoreCase(name))
                .map(sc => col(s"${st.sourceAlias}.`$sc`"))
                .getOrElse(lit(null))
          })
          case Delete => None
        }
        repl.foreach(r => e = when(col(ActCol) === i, r).otherwise(e))
      }
      e.cast(f.dataType).as(name)
    }
    kept.select(outCols.toSeq: _*)
  }
}
