package graft


import graft.api.Table

/** WITH RECURSIVE at the SQL surface (gr07 machinery): Spark 4 executes
  * linear-recursive CTEs natively (SPARK-24497 / UnionLoop), and the
  * dialect passes — rewrite, alias-into-WHERE, nulls-last, QUALIFY /
  * DISTINCT ON detection — must leave recursive statements intact on
  * their way through [[Table.sessionSql]].
  */
class RecursiveSqlSpec extends GraftSuite {
  import spark.implicits._

  test("sessionSql executes a recursive CTE with a join step natively") {
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst").createOrReplaceTempView("edges")
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE reach(id, hops) AS (
           SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
           UNION ALL
           SELECT e.dst, r.hops + 1
           FROM reach r JOIN edges e ON e.src = r.id
           WHERE r.hops < 10)
         SELECT id, hops FROM reach ORDER BY id""").toDF
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the 10->11 component is unreachable from seed 1
    assert(got.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L)))
  }

  test("recursive text survives the dialect rewrites it does not target") {
    import graft.sql.Dialect
    val sql =
      """WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL
           SELECT n + 1 FROM t WHERE n < 4)
         SELECT n FROM t ORDER BY n"""
    assert(Dialect.rewrite(sql) == sql)
    assert(Dialect.distinctOn(sql).isEmpty)
    assert(Dialect.splitQualify(sql).isEmpty)
    assert(!graft.sql.AsOfSql.detect(sql))
  }

  test("nulls-last ORDER BY rewrite composes with a recursive CTE") {
    Seq((1L, Some("a")), (2L, None), (3L, Some("b")))
      .toDF("id", "tag").createOrReplaceTempView("rn_items")
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE r(id, hops) AS (
           SELECT CAST(1 AS BIGINT), 0
           UNION ALL SELECT id + 1, hops + 1 FROM r WHERE id < 3)
         SELECT i.tag FROM r JOIN rn_items i ON i.id = r.id
         ORDER BY i.tag""").toDF.collect().map(r => Option(r.getString(0)))
    // DuckDB sorts nulls last; the dialect pass must reach the outer
    // ORDER BY even when the statement opens with WITH RECURSIVE
    assert(got.toSeq == Seq(Some("a"), Some("b"), None))
  }

  test("UNION-distinct recursion terminates on a pure cycle (gr09)") {
    // n -> (n % 3) + 1 cycles 1->2->3->1 forever under UNION ALL; the
    // distinct form drains at the closure {1, 2, 3}
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE t(n) AS (SELECT 1 UNION
           SELECT (n % 3) + 1 FROM t)
         SELECT n FROM t ORDER BY n""").toDF
      .collect().map(_.getInt(0))
    assert(got.toSeq == Seq(1, 2, 3))
  }

  test("UNION-distinct reachability on a CYCLIC graph with a join step") {
    // 1->2->3->1 is a cycle; 3->4 escapes; 10->11 is unreachable.
    // UNION ALL recursion would never terminate here — the EXCEPT-seen
    // guard is what buys termination.
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst").createOrReplaceTempView("cyc_edges")
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE reach(id) AS (
           SELECT CAST(1 AS BIGINT)
           UNION
           SELECT e.dst FROM reach r JOIN cyc_edges e ON e.src = r.id)
         SELECT id FROM reach ORDER BY id""").toDF
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("UNION-distinct recursion: step schema aligns to the seed's") {
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE t(n) AS (SELECT CAST(1 AS BIGINT) UNION
           SELECT CAST(n + 1 AS INT) FROM t WHERE n < 3)
         SELECT n FROM t ORDER BY n""").toDF
    assert(got.schema.fields.head.dataType ==
      org.apache.spark.sql.types.LongType)
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("UNION ALL recursion keeps Spark's native path") {
    assert(graft.sql.RecursiveUnion.parse(
      """WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL
           SELECT n + 1 FROM t WHERE n < 4) SELECT n FROM t""").isEmpty)
    // and non-recursive statements are untouched
    assert(graft.sql.RecursiveUnion.parse("SELECT 1 UNION SELECT 2").isEmpty)
  }

  test("UNION-distinct recursion guards: multi-UNION, mutual recursion " +
    "and helper-reads-recursion refuse") {
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      """WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT 2 UNION
           SELECT n FROM t)
         SELECT * FROM t""")).getMessage.contains("exactly one top-level"))
    // an ACYCLIC forward reference drains the referenced recursion
    // first (gr12 SCC ordering — DuckDB-probed: a = {1})
    assert(Table.sessionSql(spark,
      """WITH RECURSIVE a(n) AS (SELECT 1 UNION SELECT n FROM a JOIN b USING (n)),
           b(n) AS (SELECT 1 UNION SELECT n + 1 FROM b WHERE n < 3)
         SELECT * FROM a""").toDF.collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      """WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT n FROM t),
           u AS (SELECT n + 1 FROM t)
         SELECT * FROM u""")).getMessage
      .contains("references the recursive CTE"))
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      """WITH RECURSIVE t(n) AS (SELECT 1 UNION SELECT n FROM t),
           u(n) AS (SELECT n + 1 FROM u)
         SELECT * FROM t""")).getMessage.contains("references itself"))
  }

  test("gr11: several independent recursions drain sequentially; a " +
    "later one consumes an earlier closure (DuckDB-probed)") {
    // probed DuckDB: two independent recursions → sums 15 and 100
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE a(x) AS (SELECT 1 UNION SELECT x + 1 FROM a
           WHERE x < 5),
         b(y) AS (SELECT 10 UNION SELECT y + 10 FROM b WHERE y < 40)
         SELECT (SELECT sum(x) FROM a) AS sa,
                (SELECT sum(y) FROM b) AS sb""").toDF.collect().head
    assert((got.getLong(0), got.getLong(1)) == (15L, 100L))
    // probed DuckDB: b seeds from a's drained closure → sum(y) = 60
    val chained = Table.sessionSql(spark,
      """WITH RECURSIVE a(x) AS (SELECT 1 UNION SELECT x + 1 FROM a
           WHERE x < 4),
         b(y) AS (SELECT max(x) FROM a UNION SELECT y * 2 FROM b
           WHERE y < 30)
         SELECT sum(y) AS s FROM b""").toDF.collect().head
    assert(chained.getLong(0) == 60L)
    // a helper may feed several recursions; each closure is visible to
    // the outer statement
    val mixed = Table.sessionSql(spark,
      """WITH RECURSIVE seed(v) AS (SELECT 2),
         a(x) AS (SELECT v FROM seed UNION SELECT x * 2 FROM a
           WHERE x < 16),
         b(y) AS (SELECT v + 1 FROM seed UNION SELECT y * 3 FROM b
           WHERE y < 27)
         SELECT (SELECT count(*) FROM a) AS na,
                (SELECT sum(y) FROM b) AS sb""").toDF.collect().head
    // a = {2, 4, 8, 16} (doubling stops at 16) → na = 4;
    // b = {3, 9, 27} (tripling stops at 27) → sb = 39
    assert((mixed.getLong(0), mixed.getLong(1)) == (4L, 39L))
  }

  test("gr12: TRUE mutual recursion drains as one simultaneous loop " +
    "(every case DuckDB-probed)") {
    // even/odd mutual chain → ev = {0,2,4,6,8}, od = {1,3,5,7,9}
    val evod = Table.sessionSql(spark,
      """WITH RECURSIVE
           ev(n) AS (SELECT 0 UNION SELECT od.n + 1 FROM od WHERE od.n < 9),
           od(n) AS (SELECT 1 UNION SELECT ev.n + 1 FROM ev WHERE ev.n < 9)
         SELECT (SELECT sum(n) FROM ev) AS se,
                (SELECT sum(n) FROM od) AS so""").toDF.collect().head
    assert((evod.getLong(0), evod.getLong(1)) == (20L, 25L))
    // a sibling whose frontier drains still feeds the other member's
    // rounds through its CLOSURE (DuckDB-probed: a = 1,3,5,…,21)
    val closure = Table.sessionSql(spark,
      """WITH RECURSIVE
           a(n) AS (SELECT 1 UNION SELECT a.n + b.m FROM a, b WHERE a.n < 20),
           b(m) AS (SELECT 2 UNION SELECT 100 FROM b WHERE false)
         SELECT count(*) AS c, max(n) AS mx FROM a""").toDF.collect().head
    assert((closure.getLong(0), closure.getInt(1)) == (11L, 21))
    // a cyclic pair plus a dependent singleton in one statement
    // (DuckDB-probed: x = {0,3,6}, y = {10,20}, z = {100,2,5})
    val threeWay = Table.sessionSql(spark,
      """WITH RECURSIVE
           x(n) AS (SELECT 0 UNION SELECT z.n + 1 FROM z WHERE z.n < 6),
           y(n) AS (SELECT 10 UNION SELECT x.n + 20 FROM x WHERE x.n < 3),
           z(n) AS (SELECT 100 UNION SELECT x.n + 2 FROM x WHERE x.n < 6)
         SELECT (SELECT sum(n) FROM x) AS sx,
                (SELECT sum(n) FROM y) AS sy,
                (SELECT sum(n) FROM z) AS sz""").toDF.collect().head
    assert((threeWay.getLong(0), threeWay.getLong(1), threeWay.getLong(2))
      == (9L, 30L, 107L))
    // an empty-seed member fed purely by its sibling (DuckDB-probed:
    // a = {1,3}, b = {2,6})
    val emptySeed = Table.sessionSql(spark,
      """WITH RECURSIVE
           a(n) AS (SELECT 1 UNION SELECT b.n + 1 FROM b WHERE b.n < 4),
           b(n) AS (SELECT CAST(NULL AS INT) WHERE false
                    UNION SELECT a.n * 2 FROM a WHERE a.n < 4)
         SELECT (SELECT sum(n) FROM a) AS sa,
                (SELECT sum(n) FROM b) AS sb""").toDF.collect().head
    assert((emptySeed.getLong(0), emptySeed.getLong(1)) == (4L, 8L))
    // a SEED referencing a mutual sibling refuses loudly (DuckDB's own
    // Binder "Circular reference" error)
    assert(intercept[IllegalArgumentException](Table.sessionSql(spark,
      """WITH RECURSIVE
           a(n) AS (SELECT 1 UNION SELECT b.n + 1 FROM b WHERE b.n < 5),
           b(n) AS (SELECT a.n + 10 FROM a
                    UNION SELECT a.n + 1 FROM a WHERE a.n < 5)
         SELECT * FROM a""")).getMessage
      .contains("seeds bind before any sibling exists"))
  }

  test("gr10: non-recursive helper CTEs ride alongside the recursion") {
    // helper BEFORE the recursive CTE feeds both seed and step — the
    // common real-world shape (an edge/parameter table next to the
    // traversal); a second helper after it is consumed by the outer
    // statement only
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE
           edges(src, dst) AS (
             SELECT 1, 2 UNION ALL SELECT 2, 3 UNION ALL
             SELECT 3, 1 UNION ALL SELECT 3, 4),
           reach(node) AS (
             SELECT 1
             UNION
             SELECT e.dst FROM edges e JOIN reach r ON e.src = r.node),
           labels(node, tag) AS (
             SELECT 4, 'leaf' UNION ALL SELECT 1, 'root')
         SELECT r.node, l.tag
         FROM reach r LEFT JOIN labels l ON l.node = r.node
         ORDER BY r.node""").toDF
    assert(got.collect().map(r =>
      (r.getInt(0), Option(r.getString(1)).getOrElse("-"))).toSeq ==
      Seq((1, "root"), (2, "-"), (3, "-"), (4, "leaf")))
    // helper chains: a later helper may read an earlier one
    val chained = Table.sessionSql(spark,
      """WITH RECURSIVE
           base(n) AS (SELECT 2),
           doubled(n) AS (SELECT n * 2 FROM base),
           walk(n) AS (
             SELECT n FROM doubled
             UNION
             SELECT (w.n % 6) + 1 FROM walk w)
         SELECT count(*) AS c FROM walk""").toDF
    assert(chained.collect().head.getLong(0) == 6L)
    // statement-scoped names never clobber same-named session views
    Seq((9L, "keep")).toDF("id", "tag").createOrReplaceTempView("edges")
    Table.sessionSql(spark,
      """WITH RECURSIVE edges(n) AS (SELECT 1),
           t(n) AS (SELECT n FROM edges UNION SELECT (n % 2) + 1 FROM t)
         SELECT * FROM t""").toDF.collect()
    val after = spark.table("edges").collect()
    assert(after.length == 1 && after.head.getString(1) == "keep")
  }

  test("the CTE name never clobbers a same-named session view (gr09)") {
    Seq((100L, "real")).toDF("id", "tag").createOrReplaceTempView("rx")
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE rx(n) AS (SELECT 1 UNION
           SELECT (n % 3) + 1 FROM rx)
         SELECT n FROM rx ORDER BY n""").toDF.collect().map(_.getInt(0))
    assert(got.toSeq == Seq(1, 2, 3))
    // the user's view survives the statement untouched
    val after = spark.table("rx").collect()
    assert(after.length == 1 && after.head.getString(1) == "real")
  }

  test("CTE-name rewrite leaves qualified columns and aliases alone") {
    // a COLUMN on another table that shares the CTE's name, and an
    // output alias of that name, must both survive (review-caught)
    Seq((1L, 2L), (2L, 3L)).toDF("id", "rxn")
      .createOrReplaceTempView("rn_edges")
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE rxn(n) AS (
           SELECT CAST(1 AS BIGINT) UNION
           SELECT e.rxn FROM rn_edges e JOIN rxn r ON e.id = r.n)
         SELECT n AS rxn FROM rxn ORDER BY n""").toDF
    assert(got.columns.toSeq == Seq("rxn"))
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("ORDER BY / GROUP BY references to an output alias of the CTE " +
    "name stay column-land (advice r15)") {
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE rxn(n) AS (
           SELECT 1 UNION SELECT (n % 4) + 1 FROM rxn)
         SELECT n AS rxn FROM rxn ORDER BY rxn""").toDF
    assert(got.columns.toSeq == Seq("rxn"))
    assert(got.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    val grouped = Table.sessionSql(spark,
      """WITH RECURSIVE rxn(n) AS (
           SELECT 1 UNION SELECT (n % 4) + 1 FROM rxn)
         SELECT n % 2 AS rxn, count(*) AS c FROM rxn
         GROUP BY rxn ORDER BY rxn""").toDF
    assert(grouped.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((0, 2), (1, 2)))
    // a DOT-QUALIFIED reference in ORDER BY still names the relation —
    // it must keep rewriting to the internal binding
    val qual = Table.sessionSql(spark,
      """WITH RECURSIVE rxn(n) AS (
           SELECT 1 UNION SELECT (n % 3) + 1 FROM rxn)
         SELECT n FROM rxn ORDER BY rxn.n DESC""").toDF
    assert(qual.collect().map(_.getInt(0)).toSeq == Seq(3, 2, 1))
    // and an ORDER BY subquery re-enters table-land through its SELECT
    val sub = Table.sessionSql(spark,
      """WITH RECURSIVE rxn(n) AS (
           SELECT 1 UNION SELECT (n % 3) + 1 FROM rxn)
         SELECT n FROM rxn
         ORDER BY n = (SELECT max(n) FROM rxn), n""").toDF
    assert(sub.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
  }

  test("gr09 cadence: the accumulated closure is not re-materialized " +
    "every round (advice r15)") {
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.length
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE t(n) AS (
           SELECT 1 UNION SELECT n + 1 FROM t WHERE n < 40)
         SELECT count(*) AS c FROM t""").toDF.collect().head.getLong(0)
    assert(got == 40L)
    // 40 rounds leave ~43 cached RDDs (seed + one increment per round +
    // ⌊40/16⌋ collapse copies); the pre-fix per-round full-`seen`
    // re-checkpoint would add one MORE closure-sized RDD per round
    // (~80 total) — pin the ceiling between the two regimes
    val delta = sc.getRDDStorageInfo.length - before
    assert(delta <= 60,
      s"cached RDD count grew by $delta across a 40-round recursion — " +
        "is `seen` being re-checkpointed every round?")
  }

  test("backquoted CTE references resolve") {
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE t(n) AS (SELECT 1 UNION
           SELECT n + 1 FROM `t` WHERE n < 3)
         SELECT n FROM t""").toDF.collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(1, 2, 3))
  }

  test("drain EXCEPT is null-safe and distinct through the anti-join path") {
    // the drain loop spells EXCEPT as Distinct(anti-join on <=>) so the
    // seen side can broadcast; this pins the two semantics that rewrite
    // must preserve: (a) a step that CYCLES BACK to a seen row whose
    // columns hold NULL must drain (NULL <=> NULL is true — plain `=`
    // would keep re-adding the row until maxRounds), and (b) a step
    // emitting the same new row twice contributes it ONCE
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE t(n, tag) AS (
           SELECT CAST(1 AS BIGINT), CAST(NULL AS STRING)
           UNION
           SELECT CASE WHEN n < 3 THEN n + 1 ELSE CAST(1 AS BIGINT) END,
                  tag
           FROM (SELECT n, tag FROM t
                 UNION ALL
                 SELECT n, tag FROM t) d)
         SELECT count(*) AS c, count(tag) AS tags,
                CAST(sum(n) AS BIGINT) AS s
         FROM t""").toDF.collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == (3L, 0L, 6L))
  }

  test("an empty seed still steps once: a step that ignores its " +
    "frontier's rows adds them (DuckDB)") {
    def rows(sql: String): Seq[Int] =
      Table.sessionSql(spark, sql).toDF.collect().map(_.getInt(0)).toSeq
    // DuckDB 1.0.0 returns [(7,)] and [(5,)]: the recursive term runs
    // against the empty working table before the loop tests for rows
    assert(rows(
      """WITH RECURSIVE r(x) AS (SELECT 1 WHERE false UNION
           SELECT 7 FROM (SELECT count(*) FROM r) t)
         SELECT * FROM r""") == Seq(7))
    assert(rows(
      """WITH RECURSIVE r(x) AS (SELECT 1 WHERE false UNION
           SELECT coalesce(r.x, 5) FROM (SELECT 1 AS k) a LEFT JOIN r ON true)
         SELECT * FROM r""") == Seq(5))
  }

  test("a seeded single recursion drains to its closure through the " +
    "group loop") {
    Seq((1, 2), (2, 3), (3, 1), (3, 4), (10, 11))
      .toDF("s", "d").createOrReplaceTempView("seeded_edges")
    // two seeds, one cycle, one unreachable edge (DuckDB: 1, 2, 3, 4, 10, 11
    // from seeds 1 and 10)
    val got = Table.sessionSql(spark,
      """WITH RECURSIVE r(x) AS (
           SELECT s FROM seeded_edges WHERE s IN (1, 10)
           UNION
           SELECT e.d FROM r JOIN seeded_edges e ON e.s = r.x)
         SELECT x FROM r ORDER BY x""").toDF.collect().map(_.getInt(0))
    assert(got.toSeq == Seq(1, 2, 3, 4, 10, 11))
  }

  test("concurrent same-named recursions do not collide") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 3).map { i =>
      Future {
        Table.sessionSql(spark,
          s"""WITH RECURSIVE cc(n) AS (SELECT $i UNION
               SELECT (n % ${i + 2}) + 1 FROM cc)
             SELECT count(*) AS c FROM cc""").toDF
          .collect().head.getLong(0)
      }
    }
    val got = Await.result(Future.sequence(fs), 120.seconds)
    // closures of n -> (n % k)+1 from seed i: sizes i+2 ... each thread
    // must see ITS OWN closure, never a peer's frontier
    assert(got == Seq(3L, 4L, 5L))
  }
}
