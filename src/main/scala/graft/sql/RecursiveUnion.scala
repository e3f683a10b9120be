package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.api.{FrameStats, Table}

/** UNION-distinct recursive CTEs (gr09/gr10): the parser and the
  * executor. Spark 4 executes `WITH RECURSIVE … UNION ALL …` natively
  * (SPARK-24497 / UnionLoop) but REJECTS the UNION-distinct form
  * (`UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE`) — yet that form is exactly
  * what makes recursion over a CYCLIC graph terminate in
  * DuckDB/Postgres: each round keeps only rows never seen before, so the
  * frontier drains at the closure.
  *
  * [[parse]] detects the form; [[run]] executes it as
  * frontier-minus-seen:
  *
  *   seen ← distinct(seed);  frontier ← seen
  *   repeat: next ← distinct(step(frontier)) EXCEPT seen
  *           stop when next is empty; seen ← seen ∪ next; frontier ← next
  *
  * which is the SQL-standard semantics of the UNION-distinct recursive
  * term (the working table each round is the set of NEW rows). The step
  * runs at least once, also when the seed is empty: a step that does not
  * read its frontier's rows (`SELECT 7 FROM (SELECT count(*) FROM r) t`,
  * a `LEFT JOIN r`) still adds rows to an empty-seeded closure, as in
  * DuckDB. The UNION ALL form keeps Spark's native path — [[parse]]
  * returns None for it.
  *
  * Non-recursive HELPER CTEs may ride alongside the recursive CTEs
  * (gr10 — the common real-world shape: a seed-data or parameter CTE
  * next to the traversal). Helpers bind once, in textual order, before
  * any recursion runs; a helper must not reference a recursive CTE
  * (its closure does not exist until the loop drains — refused loudly).
  *
  * SEVERAL recursions may share one WITH RECURSIVE (gr11/gr12 —
  * DuckDB executes them in one statement, Postgres refuses mutual
  * shapes): the parser groups them into strongly-connected components
  * of the reference graph and emits the groups dependencies-first, so
  * an ACYCLIC reference (backward or forward in text) drains the
  * referenced recursion fully before the referencing one starts —
  * legal because UNION-distinct steps are monotone, so staged and
  * simultaneous evaluation reach the same least fixpoint. Every group,
  * a single recursion included, drains in ONE simultaneous loop: each
  * round every member's step runs against the round-start state — its
  * OWN frontier for the self-reference, the SIBLINGS' closures-so-far
  * for cross-references — and the loop stops when a full round adds no
  * row to any member. Both rules were probed against DuckDB 1.x (even/odd
  * mutual chain; a three-CTE statement mixing a cycle with a dependent;
  * a member whose frontier drains while a sibling keeps consuming its
  * closure).
  *
  * Scale shape: each round is one distinct + one EXCEPT (both keyed
  * shuffles on the full row), lineage cut every round (the Iterate
  * discipline), frontier-sized work per round once the closure stops
  * growing. The anti-join against `seen` is the cycle guard — cost
  * tracks closure size, never path count (UNION ALL on a cycle never
  * terminates; on a DAG with many paths it enumerates every path).
  *
  * The CTEs bind as the statement's own names ([[bindCtes]], shared
  * with the CTE-headed DML form, u16): each seed, step and the outer
  * statement lower with the names in scope bound in their plan, so a
  * reference resolves through Spark's analyzer — backquoted, case
  * folded, in a subquery — and the session catalog is never written.
  * Each round's frontier and sibling closures are names of that round's
  * steps only.
  */
object RecursiveUnion {

  /** A non-recursive helper CTE bound once before any recursion. */
  final case class Helper(name: String, cols: Option[Seq[String]],
                          body: String)

  /** One recursive CTE: declared name/columns, seed text, step text. */
  final case class Rec(name: String, cols: Option[Seq[String]],
                       seed: String, step: String)

  /** The statement: helper CTEs, recursive CTEs (textual order), the
    * outer statement after the CTE list, and the drain plan — SCC
    * groups of the recursion reference graph, dependencies first
    * (gr11/gr12). A singleton group is an ordinary recursion; a
    * multi-member group is a mutual recursion draining as one
    * simultaneous loop.
    */
  final case class Stmt(recs: Seq[Rec], outer: String,
                        helpers: Seq[Helper] = Nil,
                        groups: Seq[Seq[Rec]] = Nil) {
    def drainGroups: Seq[Seq[Rec]] =
      if (groups.nonEmpty) groups else recs.map(Seq(_))
  }

  import Dialect.{findTopLevelKeywordIn, splitTopLevel, stripLiterals, wordAt}
  import Dialect.{matchParenAt => matchParen, skipWsAt => skipWs}

  private[graft] final case class RawCte(name: String,
                                         cols: Option[Seq[String]],
                                         body: String, bodyMask: String)

  /** QUIET tokenization of a `WITH [RECURSIVE] name [(cols)] AS (body),
    * …` head: Some((recursive?, ctes, restStart)) — None when any shape
    * this scanner does not recognize appears (AS MATERIALIZED,
    * unparenthesized bodies, duplicate names, …), so callers fall back
    * to the native path. Shared by the recursion lowering and the
    * CTE-headed DML form (u16).
    */
  private[graft] def tokenizeWith(
      sql: String): Option[(Boolean, Seq[RawCte], Int)] = {
    val m = stripLiterals(sql)
    var i = skipWs(m, 0)
    if (!wordAt(m, i, "with")) return None
    i = skipWs(m, i + 4)
    val rec = wordAt(m, i, "recursive")
    if (rec) i = skipWs(m, i + 9)
    val ctes = scala.collection.mutable.ArrayBuffer.empty[RawCte]
    var more = true
    while (more) {
      val ns = i
      while (i < m.length &&
        (m.charAt(i).isLetterOrDigit || m.charAt(i) == '_')) i += 1
      val name = sql.substring(ns, i)
      if (name.isEmpty || name.head.isDigit) return None
      i = skipWs(m, i)
      var cols: Option[Seq[String]] = None
      if (i < m.length && m.charAt(i) == '(') {
        val close = matchParen(m, i)
        cols = Some(splitTopLevel(sql.substring(i + 1, close)).map(_.trim))
        if (!cols.get.forall(_.matches("[A-Za-z_][A-Za-z0-9_]*")))
          return None
        i = skipWs(m, close + 1)
      }
      if (!wordAt(m, i, "as")) return None
      i = skipWs(m, i + 2)
      if (i >= m.length || m.charAt(i) != '(') return None
      val bodyClose = matchParen(m, i)
      ctes += RawCte(name, cols, sql.substring(i + 1, bodyClose),
        m.substring(i + 1, bodyClose))
      i = skipWs(m, bodyClose + 1)
      if (i < m.length && m.charAt(i) == ',') i = skipWs(m, i + 1)
      else more = false
    }
    if (ctes.map(_.name.toLowerCase).distinct.size != ctes.size) return None
    Some((rec, ctes.toSeq, i))
  }

  /** Word-boundary occurrence search on a masked view. */
  private[graft] def containsWord(mask: String, w: String): Boolean =
    (0 until mask.length).exists(k => wordAt(mask, k, w))

  /** The top-level UNION-distinct boundary of a CTE body, or None when
    * the body has no top-level bare UNION (UNION ALL / BY NAME keep
    * their own paths).
    */
  private def unionDistinctAt(bodyMask: String): Option[Int] = {
    val u = findTopLevelKeywordIn(bodyMask, 0, "union")
    if (u < 0) return None
    val after = skipWs(bodyMask, u + 5)
    if (wordAt(bodyMask, after, "all") || wordAt(bodyMask, after, "by")) None
    else Some(u)
  }

  /** None when the statement is not `WITH RECURSIVE …` with a
    * UNION-distinct recursive CTE — the native path keeps everything
    * else. Loud on shapes this lowering would mis-execute (several
    * UNION-distinct candidates, other self-referencing CTEs, multiple
    * top-level set operators in the recursive body, a helper that
    * reads the recursion's result).
    */
  def parse(sql: String): Option[Stmt] = {
    // stage 1 — QUIET list tokenization: any shape the scanner does
    // not recognize (AS MATERIALIZED, unparenthesized bodies, …) keeps
    // the native path; loudness starts only once a UNION-distinct
    // recursive CTE establishes ownership below
    val (ctes, i) = tokenizeWith(sql) match {
      case Some((true, cs, rest)) => (cs, rest)
      case _ => return None // not WITH RECURSIVE — native handles it
    }
    // the recursive CTEs: UNION-distinct bodies that reference their
    // own name OR any other UNION-distinct candidate — mutual members
    // (gr12) reference only each other, never themselves, so the
    // self-reference test alone would miss them. With a SINGLE CTE the
    // reference is not required at all (a degenerate non-recursive
    // UNION-distinct body still lowers here — it drains in one extra
    // round and keeps pre-gr10 behavior).
    val candidates = ctes.filter(c =>
      unionDistinctAt(c.bodyMask).isDefined)
    val refs = candidates.filter(c =>
      containsWord(c.bodyMask, c.name) ||
        candidates.exists(o => !(o eq c) && containsWord(c.bodyMask, o.name)))
    val recs =
      if (refs.nonEmpty) refs.toSeq
      else if (ctes.size == 1 && candidates.nonEmpty) ctes.toSeq
      else return None // no UNION-distinct recursion — native handles it
    // this lowering owns the statement from here — malformed shapes
    // error loudly instead of falling through to a confusing native error
    recs.foreach { r =>
      val u = unionDistinctAt(r.bodyMask).get
      require(findTopLevelKeywordIn(r.bodyMask, u + 5, "union") < 0 &&
        Seq("intersect", "except")
          .forall(findTopLevelKeywordIn(r.bodyMask, 0, _) < 0),
        "UNION-distinct recursion supports exactly one top-level UNION " +
          s"in the recursive CTE body of ${r.name} (seed UNION step) — " +
          "parenthesize inner set operations")
    }
    // drain plan (gr11/gr12): SCC groups of the reference graph,
    // dependencies first. An edge r→x means r's body reads x; Tarjan
    // emits components sink-first, so every group's dependencies are
    // drained (and bound) before the group runs. A singleton group is
    // the ordinary sequential case; a multi-member group is TRUE
    // mutual recursion and drains as one simultaneous loop.
    val n = recs.size
    val adj: IndexedSeq[Seq[Int]] = recs.toIndexedSeq.map(r =>
      recs.indices.filter(k =>
        !(recs(k) eq r) && containsWord(r.bodyMask, recs(k).name)).toSeq)
    val groups = sccGroups(n, adj)
    // within a mutual group DuckDB binds seeds BEFORE any sibling
    // exists — a seed referencing a sibling is its own Binder error
    // ("Circular reference"); mirror the refusal. The group's seed
    // span is body[0, union) — recompute per rec below.
    groups.filter(_.size > 1).foreach { g =>
      g.foreach { gi =>
        val r = recs(gi)
        val u = unionDistinctAt(r.bodyMask).get
        val seedMask = r.bodyMask.substring(0, u)
        g.foreach { gj =>
          require(gi == gj || !containsWord(seedMask, recs(gj).name),
            s"the seed of recursive CTE ${recs(gi).name} references its " +
              s"mutual-recursion sibling ${recs(gj).name} — seeds bind " +
              "before any sibling exists (DuckDB's circular-reference " +
              "error); reference siblings only in the step")
        }
      }
    }
    val helpers = ctes.toSeq.filterNot(c => recs.exists(_ eq c))
    helpers.foreach { h =>
      require(!containsWord(h.bodyMask, h.name),
        s"helper CTE ${h.name} references itself — only a UNION-distinct " +
          "self-referencing CTE may recurse; rewrite or rename")
      recs.foreach { r =>
        require(!containsWord(h.bodyMask, r.name),
          s"helper CTE ${h.name} references the recursive CTE ${r.name} — " +
            "its closure exists only after the recursion; consume it in " +
            "the outer statement instead")
      }
    }
    val outer = sql.substring(i).trim
    require(outer.nonEmpty,
      "WITH RECURSIVE needs an outer statement after the CTE list")
    val parsed = recs.map { r =>
      val u = unionDistinctAt(r.bodyMask).get
      Rec(r.name, r.cols, r.body.substring(0, u).trim,
        r.body.substring(u + 5).trim)
    }
    Some(Stmt(parsed, outer,
      helpers.map(h => Helper(h.name, h.cols, h.body)),
      groups.map(_.map(parsed))))
  }

  /** Tarjan SCC over `n` nodes with adjacency `adj` (edge r→x = r
    * depends on x), emitting components sink-first — every component
    * appears before any component that depends on it, which is exactly
    * drain order. Iterative (an explicit stack): CTE lists are tiny
    * but a parser must not be stack-depth-bound.
    */
  private def sccGroups(n: Int,
                        adj: IndexedSeq[Seq[Int]]): Seq[Seq[Int]] = {
    val index = Array.fill(n)(-1)
    val low = Array.fill(n)(0)
    val onStack = Array.fill(n)(false)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    var counter = 0
    // explicit DFS frames: (node, next-child cursor)
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    for (root <- 0 until n if index(root) < 0) {
      frames += Array(root, 0)
      index(root) = counter; low(root) = counter; counter += 1
      stack += root; onStack(root) = true
      while (frames.nonEmpty) {
        val f = frames.last
        val v = f(0)
        if (f(1) < adj(v).size) {
          val w = adj(v)(f(1)); f(1) += 1
          if (index(w) < 0) {
            index(w) = counter; low(w) = counter; counter += 1
            stack += w; onStack(w) = true
            frames += Array(w, 0)
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          frames.remove(frames.size - 1)
          if (frames.nonEmpty) {
            val p = frames.last(0)
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val comp = scala.collection.mutable.ArrayBuffer.empty[Int]
            var w = -1
            while (w != v) {
              w = stack.remove(stack.size - 1); onStack(w) = false
              comp += w
            }
            // textual order inside the group (stable driver output)
            out += comp.sorted.toSeq
          }
        }
      }
    }
    out.toSeq
  }

  /** `names` with non-recursive CTEs bound over them in textual order:
    * each body lowers through `lower` with the CTEs before it in scope,
    * its columns take the declared list, and `finish` of the frame binds.
    * Shared with the CTE-headed DML form (u16).
    */
  private[graft] def bindCtes(ctes: Seq[Helper], names: Table.Names,
                              lower: (String, Table.Names) => DataFrame)
                             (finish: (Helper, DataFrame) => DataFrame =
                                (_, df) => df): Table.Names =
    ctes.foldLeft(names) { (scope, h) =>
      Table.bindNames(scope, Seq(h.name ->
        finish(h, declared(s"CTE ${h.name}", "body", h.cols, lower(h.body, scope)))))
    }

  /** `df` with `what`'s declared column list, when it declares one. */
  private def declared(what: String, part: String, cols: Option[Seq[String]],
                       df: DataFrame): DataFrame = cols.fold(df) { cs =>
    require(cs.size == df.columns.length,
      s"$what(${cs.mkString(", ")}) declares ${cs.size} columns, its " +
        s"$part produces ${df.columns.length}")
    df.toDF(cs: _*)
  }

  /** A recursion that has not drained after this many rounds refuses
    * instead of looping forever.
    */
  private val MaxRounds = 512

  /** Executes a parsed statement. `lower` runs one statement text through
    * the caller's pipeline with the given names in scope (seeds, steps,
    * helpers and the outer statement each re-enter it). `names` are the
    * enclosing statement's; the CTEs bind over them as the statement's
    * own names, never in the session catalog. Helpers bind once, in
    * textual order; the SCC groups then drain dependencies-first, each
    * closure binding before later groups and the outer statement run.
    */
  def run(st: Stmt, names: Table.Names,
          lower: (String, Table.Names) => DataFrame): DataFrame = {
    // a helper ANY step reads is MATERIALIZED (eager localCheckpoint):
    // steps re-execute once per round, and re-scanning the helper's
    // source plan every round costs O(rounds × helper) where one
    // checkpoint pass suffices (measured: gr10's edge helper halved the
    // closure runtime). A helper only the outer statement (or later
    // helpers) reads stays lazy.
    val stepMasks = st.recs.map(r => Dialect.stripLiterals(r.step))
    val helpers = bindCtes(st.helpers, names, lower) { (h, df) =>
      if (stepMasks.exists(containsWord(_, h.name))) freshCols(df.localCheckpoint(true))
      else df
    }
    val scope = st.drainGroups.foldLeft(helpers) { (scope, group) =>
      Table.bindNames(scope, group.map(_.name).zip(drain(lower, group, scope)))
    }
    lower(st.outer, scope)
  }

  /** Every checkpoint is wrapped in a fresh aliasing projection: a
    * localCheckpoint's LogicalRDD can carry origin constraints that
    * reference attributes outside its own output, and the lazy
    * accumulation union of [[drain]] computes Union constraints over its
    * children (Spark's rewrite then dies with `key not found: k#N` —
    * surfaced by a recursion over an ON CONFLICT result). A Project keeps
    * only output-expressible constraints.
    */
  private def freshCols(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(s"`$c`").as(c)): _*)

  /** `left EXCEPT DISTINCT right` spelled as the identical
    * Distinct-over-null-safe-anti-join Spark's own
    * ReplaceExceptWithAntiJoin produces — written out so the SEEN side
    * can carry a broadcast hint (a hint on a Dataset.except operand is
    * eliminated before the optimizer rewrites Except into the join, so
    * it can never attach there). Columns pair positionally with `<=>`,
    * matching Except's null-safe set semantics bit for bit.
    */
  private def exceptDistinctVia(left: DataFrame, right: DataFrame,
                                rightBytes: Long): DataFrame = {
    val names = left.columns.toSeq
    val tmp = names.indices.map(i => s"__ed$i")
    val l = left.toDF(tmp: _*).as("__edl")
    val r = FrameStats.broadcastIfSmall(right.toDF(tmp: _*), rightBytes).as("__edr")
    val cond = tmp.map(c => col(s"__edl.$c") <=> col(s"__edr.$c"))
      .reduce(_ && _)
    l.join(r, cond, "left_anti").toDF(names: _*).distinct()
  }

  /** One simultaneous frontier-minus-seen loop over an SCC group — a
    * single recursion is a one-member group. Each round every member's
    * step evaluates against the round-start state: the member's OWN name
    * bound to its frontier (last round's new rows, the standard working
    * table), every SIBLING's name bound to that sibling's closure-so-far.
    * New rows land simultaneously after all members step, so in-round
    * evaluation order cannot leak (each step's plan holds its bindings).
    * The loop stops when a full round adds no row to any member, and it
    * runs at least one round, so an empty seed still steps once. A
    * member whose frontier drains keeps stepping — a sibling's growing
    * closure can still feed it (probed: an empty-seed member fed purely
    * by its sibling). Returns each member's checkpointed closure.
    *
    * Scale shape: per round each member pays one step, one
    * distinct-EXCEPT against its own closure and one emptiness probe.
    * The measured sizes of the checkpointed frontier and closure drive
    * [[FrameStats]]' broadcast gate: a localCheckpoint's LogicalRDD
    * reports plan-derived statistics, so without the hint every step
    * join and EXCEPT would plan as an exchange-both-sides join of frames
    * that are typically a few thousand rows. Oversized state keeps the
    * shuffle plan. Cross-references scan the sibling CLOSURE each round
    * — inherent to the probed semantics, O(rounds × closure) like
    * DuckDB's own evaluation.
    */
  private def drain(lower: (String, Table.Names) => DataFrame, group: Seq[Rec],
                    scope: Table.Names): Seq[DataFrame] = {
    final class Member(val rec: Rec) {
      // seeds bind with NO sibling in scope (a seed referencing a
      // sibling was refused at parse — DuckDB's circular-ref error)
      private val seed = declared(s"recursive CTE ${rec.name}", "seed",
        rec.cols, lower(rec.seed, scope))
      private val schema = seed.schema
      var seen: DataFrame = freshCols(seed.distinct().localCheckpoint(true))
      var seenBytes: Long = FrameStats.checkpointedBytes(seen)
      var frontier: DataFrame = seen
      var frontierBytes: Long = seenBytes
      var sinceCollapse: Int = 0

      /** The step's output under the seed's names and types (the
        * anchor-defines-schema rule Spark's native recursion also
        * applies).
        */
      def align(df: DataFrame): DataFrame = {
        require(df.columns.length == schema.size,
          s"recursive step of ${rec.name} produces ${df.columns.length} " +
            s"columns, expected ${schema.size}")
        df.toDF(schema.fieldNames.toSeq: _*).select(schema.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*)
      }
    }
    val members = group.map(new Member(_))
    // `seen` accumulates as a UNION of already-checkpointed per-round
    // increments — re-materializing the whole accumulation every round
    // would write O(rounds × |closure|). The union tree still deepens
    // the plan one leaf per round, so it collapses with a checkpoint
    // every `collapseEvery` rounds: plan depth ≤ 16 leaves.
    val collapseEvery = 16
    var drained = false
    var round = 0
    while (!drained && round < MaxRounds) {
      // each member steps with its siblings bound to their round-start
      // closures and itself to its frontier; the names are this step's
      // own, so the next member and the next round bind theirs afresh
      val next = members.map { mb =>
        val stepped = mb.align(lower(mb.rec.step, Table.bindNames(scope,
          members.map { o =>
            o.rec.name ->
              (if (o eq mb) FrameStats.broadcastIfSmall(o.frontier, o.frontierBytes)
              else FrameStats.broadcastIfSmall(o.seen, o.seenBytes))
          })))
        val nf = freshCols(exceptDistinctVia(stepped, mb.seen, mb.seenBytes)
          .localCheckpoint(true))
        (nf, nf.isEmpty, FrameStats.checkpointedBytes(nf))
      }
      drained = next.forall(_._2)
      if (!drained) members.zip(next).foreach {
        case (mb, (nf, empty, nBytes)) =>
          // an empty increment leaves the closure untouched but still
          // empties the frontier (the member keeps stepping off siblings)
          if (!empty) {
            mb.seen = mb.seen.union(nf)
            mb.seenBytes += nBytes // increments are disjoint by construction
            mb.sinceCollapse += 1
            if (mb.sinceCollapse >= collapseEvery) {
              mb.seen = freshCols(mb.seen.localCheckpoint(true))
              mb.sinceCollapse = 0
            }
          }
          mb.frontier = nf
          mb.frontierBytes = nBytes
      }
      round += 1
    }
    require(drained,
      s"UNION-distinct recursion over ${group.map(_.name).mkString(", ")} " +
        s"did not drain within $MaxRounds rounds — the steps keep " +
        "producing new rows; check the recursion or split the query")
    members.map(_.seen)
  }
}
