package graft

import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Properties}

import graft.functions.{Mix64, TopKHeap}
import graft.sql.Dialect

/** Property tests for the pure (no-Spark) kernels. */
object TopKHeapProps extends Properties("TopKHeap") {

  private val entries = Gen.listOf(Gen.zip(
    Gen.chooseNum(-100.0, 100.0), Gen.chooseNum(0L, 50L)))

  property("matches naive sort-take-k with ascending-id tie-break") =
    forAll(entries, Gen.chooseNum(1, 12)) { (xs, k) =>
      val heap = new TopKHeap(k)
      xs.foreach { case (s, i) => heap.add(s, i) }
      val naive = xs.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)).take(k)
      heap.sortedDesc.toSeq == naive
    }

  property("merge order does not change the result") =
    forAll(entries, entries, Gen.chooseNum(1, 8)) { (xs, ys, k) =>
      def fill(zs: Seq[(Double, Long)]): TopKHeap = {
        val h = new TopKHeap(k); zs.foreach { case (s, i) => h.add(s, i) }; h
      }
      val ab = fill(xs)
      fill(ys).sortedDesc.foreach { case (s, i) => ab.add(s, i) }
      val ba = fill(ys)
      fill(xs).sortedDesc.foreach { case (s, i) => ba.add(s, i) }
      ab.sortedDesc.toSeq == ba.sortedDesc.toSeq
    }
}

object DialectProps extends Properties("Dialect") {

  private val sqlish = Gen.listOf(Gen.oneOf(
    "select ", "np.log(x)", "a # b", "'lit#np.x'", "from t ", "1.5", ", ",
    "\"id#q\"", "np.sqrt(y)", "order by x")).map(_.mkString)

  property("rewrite is idempotent") = forAll(sqlish) { s =>
    val once = Dialect.rewrite(s)
    Dialect.rewrite(once) == once
  }

  property("rewrite preserves length") = forAll(sqlish) { s =>
    Dialect.rewrite(s).length == s.length
  }
}

object Mix64Props extends Properties("Mix64") {
  property("deterministic") = forAll { (x: Long) => Mix64.mix(x) == Mix64.mix(x) }
  property("injective on samples (no easy collisions)") =
    forAll { (x: Long, y: Long) => (x == y) == (Mix64.mix(x) == Mix64.mix(y)) }
}

object VecSumProps extends Properties("VecSumBuf") {
  import graft.functions.VecSumBuf
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private val vecs = Gen.listOf(Gen.listOfN(4, Gen.chooseNum(-1000000L, 1000000L)))

  property("long sums are grouping- and merge-order independent (exact)") =
    forAll(vecs, Gen.chooseNum(1, 7)) { (xs, splits) =>
      def sumOf(groups: Seq[Seq[Seq[Long]]]): Seq[Long] = {
        val bufs = groups.map { g =>
          val b = new VecSumBuf(null, null)
          g.foreach(v => b.addL(new GenericArrayData(v.toArray)))
          b
        }
        val acc = new VecSumBuf(null, null)
        bufs.foreach(acc.mergeFrom)
        if (acc.lsums == null) Seq.empty else acc.lsums.toSeq
      }
      val flat = sumOf(Seq(xs))
      val grouped = sumOf(xs.grouped(math.max(1, xs.length / splits)).toSeq)
      val reversed = sumOf(xs.reverse.grouped(math.max(1, splits)).toSeq)
      flat == grouped && flat == reversed
    }
}

object BpeProps extends Properties("Bpe") {

  import graft.functions.{Bpe, BpeVocab}
  import org.apache.spark.unsafe.types.UTF8String

  private val word = Gen.chooseNum(1, 12).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf(('a' to 'z') ++ ('0' to '9'))).map(_.mkString))

  private val vocab = new BpeVocab(Bpe.EnglishMerges.toArray)

  property("token count is between 1 and the word length; concat reproduces the word") =
    forAll(word) { w =>
      val toks = vocab.tokenizeWord(w)
      toks.nonEmpty && toks.length <= w.length && toks.mkString == w
    }

  property("text count equals the sum over its words; separators never count") =
    forAll(Gen.listOf(word)) { ws =>
      val text = ws.mkString("  ,;. ")
      val total = Bpe.countTokens(UTF8String.fromString(text), vocab)
      total == ws.map(vocab.tokenizeWord(_).length.toLong).sum
    }

  property("tokenization is idempotent under case and surrounding junk") =
    forAll(word) { w =>
      Bpe.countTokens(UTF8String.fromString(s"  ${w.toUpperCase} !"), vocab) ==
        vocab.tokenizeWord(w).length.toLong
    }
}

object JaccardSortedProps extends Properties("JaccardSorted") {

  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String
  import graft.functions.Kernels

  private val token = Gen.oneOf("a", "b", "ab", "abc", "x", "yz", "q",
    "token longer", "z", "", "0", "ß")

  private def arr(xs: Seq[String]) = {
    val u = xs.distinct.map(UTF8String.fromString)
      .sortWith(_.compareTo(_) < 0).toArray[Any]
    new GenericArrayData(u)
  }

  property("matches naive set jaccard on sorted distinct arrays") =
    forAll(Gen.listOf(token), Gen.listOf(token)) { (xs, ys) =>
      val got = Kernels.jaccardSorted(arr(xs), arr(ys))
      val (sa, sb) = (xs.toSet, ys.toSet)
      val union = (sa ++ sb).size
      if (union == 0) got.isNaN
      else got == (sa & sb).size.toDouble / union
    }
}

/** Corpus fuzz for the SQL-dialect scanners (round-12 directed item):
  * every oracle statement in the 282-query driver corpus, with its
  * literal/comment CONTENT replaced by keyword-laden junk or with
  * comments injected at arbitrary whitespace, must scan and rewrite
  * IDENTICALLY outside the masked regions. This is the contract that
  * makes `AsOfSql.detect`, QUALIFY splitting, `* EXCLUDE/RENAME`, and
  * nulls-last rewriting safe against adversarial literal content.
  */
object DialectCorpusFuzzProps extends Properties("DialectCorpusFuzz") {

  import graft.sql.{AsOfSql, Dialect}

  // the full driver corpus: every oracle SQL text the dialect layer may
  // be pointed at (DuckDB-flavored, includes the same-text ASOF queries)
  private val corpus: Seq[String] =
    SparkEntry.oracleSql.values.toSeq.sorted
  require(corpus.size > 200, s"corpus unexpectedly small: ${corpus.size}")

  // junk spells the scanner keywords when read in runs; it contains NO
  // quote / backslash / slash / star characters, so literal and comment
  // boundaries cannot move
  private val junkAlphabet = "qualifyorderbyasofjoinexclude(),_"

  /** The query with every masked letter/digit (literal or comment
    * content) replaced by junk — length- and structure-preserving.
    */
  private def junked(q: String, salt: Int): String = {
    val m = Dialect.stripLiterals(q)
    val sb = new StringBuilder(q)
    var i = 0
    while (i < q.length) {
      if (m.charAt(i) == ' ' && q.charAt(i).isLetterOrDigit)
        sb.setCharAt(i, junkAlphabet((i + salt) % junkAlphabet.length))
      i += 1
    }
    sb.toString
  }

  private val qAndSalt = Gen.zip(Gen.oneOf(corpus), Gen.chooseNum(0, 1000))

  property("masked-content junk never changes the masked view or any scan") =
    forAll(qAndSalt) { case (q, salt) =>
      val j = junked(q, salt)
      Dialect.stripLiterals(j) == Dialect.stripLiterals(q) &&
        Dialect.firstFromTable(j) == Dialect.firstFromTable(q) &&
        AsOfSql.detect(j) == AsOfSql.detect(q) &&
        Dialect.summarizeTarget(j).isDefined ==
          Dialect.summarizeTarget(q).isDefined &&
        Dialect.describeTarget(j).isDefined ==
          Dialect.describeTarget(q).isDefined &&
        Seq("qualify", "order", "asof", "from", "limit", "where").forall(kw =>
          Dialect.findTopLevelKeyword(j, 0, kw) ==
            Dialect.findTopLevelKeyword(q, 0, kw))
    }

  property("rewrites are identical outside the masked regions") =
    forAll(qAndSalt) { case (q, salt) =>
      val j = junked(q, salt)
      def maskedEq(a: String, b: String): Boolean =
        Dialect.stripLiterals(a) == Dialect.stripLiterals(b)
      val sq = Dialect.splitQualify(q)
      val sj = Dialect.splitQualify(j)
      val dq = scala.util.Try(Dialect.distinctOn(q)).toOption.flatten
      val dj = scala.util.Try(Dialect.distinctOn(j)).toOption.flatten
      // round-13 scanners: FROM-first reorder, UNION BY NAME split, and
      // dynamic-star detection must all be blind to masked content too
      val fq = Dialect.fromFirst(q)
      val fj = Dialect.fromFirst(j)
      val uq = scala.util.Try(Dialect.splitUnionByName(q)).toOption.flatten
      val uj = scala.util.Try(Dialect.splitUnionByName(j)).toOption.flatten
      // round-18 passes: bracket subscripts (q69 — corpus oracles carry
      // DuckDB slices, which refuse loudly: Try-compare) and pattern
      // operators (q68) must be blind to masked content too
      val bq = scala.util.Try(Dialect.rewriteSubscripts(q)).toOption
      val bj = scala.util.Try(Dialect.rewriteSubscripts(j)).toOption
      val gq = scala.util.Try(Dialect.rewriteSimilarGlob(q)).toOption
      val gj = scala.util.Try(Dialect.rewriteSimilarGlob(j)).toOption
      // struct literals (q70): braces inside string literals are data;
      // a malformed visible brace refuses loudly — Try-compare
      val hq = scala.util.Try(Dialect.rewriteStructLiterals(q)).toOption
      val hj = scala.util.Try(Dialect.rewriteStructLiterals(j)).toOption
      // r18 second wave: trailing commas, in-parens IGNORE NULLS,
      // dot-call chaining — all must be blind to masked content
      val tcq = scala.util.Try(Dialect.stripTrailingCommas(q)).toOption
      val tcj = scala.util.Try(Dialect.stripTrailingCommas(j)).toOption
      val inq = scala.util.Try(Dialect.rewriteIgnoreNulls(q)).toOption
      val inj = scala.util.Try(Dialect.rewriteIgnoreNulls(j)).toOption
      val dcq = scala.util.Try(Dialect.rewriteDotCalls(q)).toOption
      val dcj = scala.util.Try(Dialect.rewriteDotCalls(j)).toOption
      maskedEq(Dialect.rewrite(j), Dialect.rewrite(q)) &&
        (bq.isDefined == bj.isDefined) &&
        bq.zip(bj).forall { case (a, b) => maskedEq(a, b) } &&
        (hq.isDefined == hj.isDefined) &&
        hq.zip(hj).forall { case (a, b) => maskedEq(a, b) } &&
        (tcq.isDefined == tcj.isDefined) &&
        tcq.zip(tcj).forall { case (a, b) => maskedEq(a, b) } &&
        (inq.isDefined == inj.isDefined) &&
        inq.zip(inj).forall { case (a, b) => maskedEq(a, b) } &&
        (dcq.isDefined == dcj.isDefined) &&
        dcq.zip(dcj).forall { case (a, b) => maskedEq(a, b) } &&
        (gq.isDefined == gj.isDefined) &&
        gq.zip(gj).forall { case (a, b) => maskedEq(a, b) } &&
        maskedEq(Dialect.aliasesIntoWhere(j), Dialect.aliasesIntoWhere(q)) &&
        maskedEq(Dialect.orderByNullsLast(j), Dialect.orderByNullsLast(q)) &&
        (sq.isDefined == sj.isDefined) &&
        sq.zip(sj).forall { case ((iq, tq), (ij, tj)) =>
          maskedEq(iq, ij) && maskedEq(tq, tj)
        } &&
        (dq.isDefined == dj.isDefined) &&
        dq.zip(dj).forall { case (a, b) => maskedEq(a, b) } &&
        (fq.isDefined == fj.isDefined) &&
        fq.zip(fj).forall { case (a, b) => maskedEq(a, b) } &&
        (uq.isDefined == uj.isDefined) &&
        uq.zip(uj).forall { case ((oa, fa, ta), (ob, fb, tb)) =>
          fa == fb && oa.size == ob.size &&
            oa.zip(ob).forall { case (a, b) => maskedEq(a, b) } &&
            maskedEq(ta, tb)
        } &&
        Dialect.hasDynamicColumns(j) == Dialect.hasDynamicColumns(q)
    }

  // a block comment is structure-safe at ANY offset: in code it is a new
  // comment, inside a literal it is content, inside a comment it nests
  private val blockToken = "/* qualify asof join order by `x` */"

  property("an injected comment at any whitespace never changes a scan") =
    forAll(qAndSalt) { case (q, salt) =>
      val spaces = q.indices.filter(q.charAt(_) == ' ')
      val pos = if (spaces.isEmpty) q.length else spaces(salt % spaces.size)
      val j = q.substring(0, pos) + blockToken + q.substring(pos)
      Dialect.firstFromTable(j) == Dialect.firstFromTable(q) &&
        AsOfSql.detect(j) == AsOfSql.detect(q) &&
        Dialect.splitQualify(j).isDefined == Dialect.splitQualify(q).isDefined
    }

  property("a trailing line comment (with an unbalanced quote) never changes a scan") =
    forAll(Gen.oneOf(corpus)) { q =>
      val j = q + "\n-- it's a trap: qualify asof join order by limit"
      Dialect.firstFromTable(j) == Dialect.firstFromTable(q) &&
        AsOfSql.detect(j) == AsOfSql.detect(q) &&
        Dialect.splitQualify(j).isDefined == Dialect.splitQualify(q).isDefined
    }

  // round-15 scanners: MERGE arms, UNION-distinct recursion, and the
  // window-EXCLUDE rewrite must be equally blind to masked content
  private val mergeCorpus: Seq[String] = Seq(
    """MERGE INTO t USING s ON t.k = s.k AND t.tag <> 'merge into x'
       WHEN MATCHED AND s.v > 'using on when matched then' THEN DELETE
       WHEN MATCHED THEN UPDATE SET v = s.v, tag = 'then insert values'
       WHEN NOT MATCHED AND s.k % 2 = 0 THEN
         INSERT (k, tag, v) VALUES (s.k, 'when not matched by source', s.v)
       WHEN NOT MATCHED BY SOURCE THEN DELETE""",
    """MERGE INTO tgt AS t USING (SELECT k, v FROM src WHERE note <> 'on') s
       ON t.k = s.k WHEN NOT MATCHED THEN INSERT *""")

  property("MERGE parse structure is blind to masked content") =
    forAll(Gen.zip(Gen.oneOf(mergeCorpus), Gen.chooseNum(0, 1000))) {
      case (q, salt) =>
        import graft.sql.MergeSql
        val j = junked(q, salt)
        val pq = MergeSql.parse(q)
        val pj = MergeSql.parse(j)
        pq.isDefined && pj.isDefined &&
          pq.get.arms.map(a => (a.kind, a.cond.isDefined)) ==
            pj.get.arms.map(a => (a.kind, a.cond.isDefined)) &&
          pq.get.targetAlias == pj.get.targetAlias &&
          pq.get.sourceAlias == pj.get.sourceAlias &&
          // the whole driver corpus must never false-trigger MERGE
          MergeSql.parse(junked(corpus(salt % corpus.size), salt)).isEmpty
    }

  property("UNION-distinct recursion detection is blind to masked content") =
    forAll(Gen.zip(Gen.oneOf(corpus), Gen.chooseNum(0, 1000))) {
      case (q, salt) =>
        import graft.sql.RecursiveUnion
        val j = junked(q, salt)
        val pq = scala.util.Try(RecursiveUnion.parse(q)).toOption.flatten
        val pj = scala.util.Try(RecursiveUnion.parse(j)).toOption.flatten
        pq.isDefined == pj.isDefined &&
          pq.zip(pj).forall { case (a, b) =>
            def shape(s: RecursiveUnion.Stmt) =
              (s.recs.map(r => (r.name, r.cols,
                Dialect.stripLiterals(r.seed),
                Dialect.stripLiterals(r.step))),
                s.helpers.map(h => (h.name, h.cols)))
            shape(a) == shape(b)
          }
    }

  private val pivotCorpus: Seq[String] = Seq(
    """PIVOT (SELECT g, k, v FROM t WHERE note <> 'pivot on using') ON k
       IN ('x on using', 'group by') USING sum(v) AS s, count(*) AS n
       GROUP BY g ORDER BY g LIMIT 3""",
    """UNPIVOT wide ON a, b, c INTO NAME k VALUE v ORDER BY k""")

  property("PIVOT/UNPIVOT parse structure is blind to masked content") =
    forAll(Gen.zip(Gen.oneOf(pivotCorpus), Gen.chooseNum(0, 1000))) {
      case (q, salt) =>
        import graft.sql.PivotSql
        val j = junked(q, salt)
        val pq = PivotSql.parsePivot(q)
        val pj = PivotSql.parsePivot(j)
        val uq = PivotSql.parseUnpivot(q)
        val uj = PivotSql.parseUnpivot(j)
        pq.isDefined == pj.isDefined && uq.isDefined == uj.isDefined &&
          pq.zip(pj).forall { case (a, b) =>
            a.onCol == b.onCol && a.aggs.size == b.aggs.size &&
              a.aggs.map(_._2) == b.aggs.map(_._2) &&
              a.inValues.map(_.size) == b.inValues.map(_.size) &&
              a.groupBy.map(_.size) == b.groupBy.map(_.size)
          } &&
          uq.zip(uj).forall { case (a, b) =>
            a.onCols == b.onCols && a.nameCol == b.nameCol &&
              a.valueCol == b.valueCol
          } &&
          // junking must never CHANGE whether a corpus entry triggers
          // either form (the corpus legitimately contains the q61/q62
          // PIVOT/UNPIVOT oracle statements, so isEmpty would
          // self-falsify — round-15 judge finding)
          {
            val c = corpus(salt % corpus.size)
            val cj = junked(c, salt)
            PivotSql.parsePivot(cj).isDefined ==
              PivotSql.parsePivot(c).isDefined &&
            PivotSql.parseUnpivot(cj).isDefined ==
              PivotSql.parseUnpivot(c).isDefined
          }
    }

  private val dmlCorpus: Seq[String] = Seq(
    """INSERT INTO t (k, tag) VALUES (1, 'insert into values (2)'),
       (2, 'update t set where')""",
    "INSERT INTO t SELECT k, v FROM s WHERE tag <> 'values (1)'",
    """UPDATE t SET tag = 'delete from t where', v = v + 1
       WHERE note <> 'set x = 1, y = 2'""",
    "DELETE FROM t WHERE tag <> 'update set where delete'",
    """INSERT INTO t SELECT k, v FROM s WHERE tag <> 'on conflict do'
       ON CONFLICT (k) DO UPDATE SET v = excluded.v + v""",
    """INSERT INTO t VALUES (1, 'do update set v = 2')
       ON CONFLICT (k) DO NOTHING""",
    """INSERT INTO t VALUES (1, 'where v < 2')
       ON CONFLICT (k) DO UPDATE SET v = excluded.v WHERE v < 'from'""",
    """UPDATE t AS a SET v = b.v FROM s AS b
       WHERE a.k = b.k AND a.tag <> 'update from where'""",
    """UPDATE t SET v = 1 FROM (SELECT k FROM s WHERE tag <> 'using') AS b
       WHERE t.k = b.k""",
    "DELETE FROM t AS a USING s AS b WHERE a.k = b.k AND b.tag <> 'using'",
    """INSERT INTO t VALUES (1, 'returning k') RETURNING k, v * 2 AS v2""",
    "UPDATE t SET v = 2 WHERE tag <> 'returning *' RETURNING *",
    "DELETE FROM t WHERE k < 9 RETURNING k",
    "INSERT INTO t BY NAME SELECT v, k FROM s WHERE tag <> 'by name'",
    "TRUNCATE TABLE t")

  property("DML parse structure is blind to masked content") =
    forAll(Gen.zip(Gen.oneOf(dmlCorpus), Gen.chooseNum(0, 1000))) {
      case (q, salt) =>
        import graft.sql.DmlSql
        def shapeOf(st: DmlSql.Stmt): Product = st match {
          case DmlSql.Insert(r, cols, v, src, cf, byName) =>
            (r, cols, v.isDefined, src.isDefined,
              cf.map(x => (x.keys, x.action.map(_.map(_._1)),
                x.updWhere.isDefined)), byName)
          case DmlSql.Update(r, a, sets, w, f) =>
            (r, a, sets.map(_._1), w.isDefined, f.map(_.alias))
          case DmlSql.Delete(r, a, w, u) =>
            (r, a, w.isDefined, u.map(_.alias))
          case DmlSql.Truncate(r) => Tuple1(r)
          case DmlSql.Returning(inner, items) =>
            (shapeOf(inner), items.size)
        }
        def shape(s: String): Option[Product] = DmlSql.parse(s).map(shapeOf)
        val sq = shape(q)
        sq.isDefined && sq == shape(junked(q, salt)) &&
          // isDefined-equality over the driver corpus (never isEmpty —
          // the round-15 lesson)
          {
            val c = corpus(salt % corpus.size)
            scala.util.Try(DmlSql.parse(junked(c, salt))).toOption
              .flatten.isDefined ==
              scala.util.Try(DmlSql.parse(c)).toOption.flatten.isDefined
          }
    }

  private val ddlCorpus: Seq[String] = Seq(
    "CREATE TABLE t AS SELECT k FROM s WHERE tag <> 'create table x as'",
    """CREATE OR REPLACE TEMP VIEW v AS
       SELECT k, 'create or replace view w as' AS note FROM s""",
    "CREATE TEMPORARY TABLE t2 AS SELECT 'as' AS a, 1 AS b",
    "CREATE TABLE t3 (k BIGINT NOT NULL, s VARCHAR, v DECIMAL(10, 2))")

  property("DDL parse structure is blind to masked content") =
    forAll(Gen.zip(Gen.oneOf(ddlCorpus), Gen.chooseNum(0, 1000))) {
      case (q, salt) =>
        import graft.sql.DdlSql
        def shape(s: String) = DdlSql.parse(s).map(st =>
          (st.isView, st.orReplace, st.name,
            Dialect.stripLiterals(st.body), st.columns))
        val sq = shape(q)
        sq.isDefined && sq == shape(junked(q, salt)) &&
          // isDefined-equality over the driver corpus (never isEmpty —
          // the round-15 lesson)
          {
            val c = corpus(salt % corpus.size)
            scala.util.Try(DdlSql.parse(junked(c, salt))).toOption
              .flatten.isDefined ==
              scala.util.Try(DdlSql.parse(c)).toOption.flatten.isDefined
          }
    }

  // both entries carry an explicit FORMAT: the path LITERAL is junked
  // by design, so the extension-default rule (literal-dependent) is
  // spec'd in CopySqlSpec, not fuzzed here
  private val copyCorpus: Seq[String] = Seq(
    "COPY t TO 'out/x.parquet' (FORMAT PARQUET)",
    "COPY (SELECT k FROM s WHERE tag <> 'copy t to') TO 'y.csv' (FORMAT CSV)",
    "COPY t FROM 'in/x.json' (FORMAT JSON)",
    "COPY t2 FROM 'in/y.parquet' (FORMAT PARQUET)")

  property("COPY parse structure is blind to masked content") =
    forAll(Gen.zip(Gen.oneOf(copyCorpus), Gen.chooseNum(0, 1000))) {
      case (q, salt) =>
        import graft.sql.CopySql
        def shape(s: String) = CopySql.parse(s).map(st =>
          (st.isSubquery, st.toTarget, st.format,
            Dialect.stripLiterals(st.ref)))
        val sq = shape(q)
        sq.isDefined && sq == shape(junked(q, salt)) &&
          {
            val c = corpus(salt % corpus.size)
            scala.util.Try(CopySql.parse(junked(c, salt))).toOption
              .flatten.isDefined ==
              scala.util.Try(CopySql.parse(c)).toOption.flatten.isDefined
          }
    }

  private val sampleCorpus: Seq[String] = Seq(
    """SELECT id, note FROM t WHERE note <> 'using sample 99%'
       USING SAMPLE 25% ORDER BY id LIMIT 7""",
    "SELECT id FROM t USING SAMPLE reservoir(40 ROWS)",
    """SELECT a.id FROM t TABLESAMPLE (bernoulli(10%)) a
       JOIN u USING (k) WHERE a.tag <> 'tablesample (5 rows)'""",
    """SELECT d.id FROM (SELECT id FROM t WHERE tag <> 'tablesample')
       AS d TABLESAMPLE (25%)""",
    "SELECT x.id FROM t AS x TABLESAMPLE (3 ROWS)")

  property("sampling-clause detection is blind to masked content") =
    forAll(Gen.zip(Gen.oneOf(sampleCorpus), Gen.chooseNum(0, 1000))) {
      case (q, salt) =>
        import graft.sql.SampleSql
        val j = junked(q, salt)
        val sq = SampleSql.splitUsingSample(q)
        val sj = SampleSql.splitUsingSample(j)
        sq.isDefined == sj.isDefined &&
          sq.zip(sj).forall { case (a, b) =>
            a._2 == b._2 && a._3.length == b._3.length
          } &&
          SampleSql.hasTablesample(j) == SampleSql.hasTablesample(q) &&
          // junking must never CHANGE whether a driver-corpus entry
          // triggers either sampling form (isDefined-equality, the
          // round-15 lesson — never assert isEmpty over the corpus)
          {
            val c = corpus(salt % corpus.size)
            val cj = junked(c, salt)
            scala.util.Try(SampleSql.splitUsingSample(cj)).toOption
              .flatten.isDefined ==
              scala.util.Try(SampleSql.splitUsingSample(c)).toOption
                .flatten.isDefined &&
            SampleSql.hasTablesample(cj) == SampleSql.hasTablesample(c)
          }
    }

  private val groupsCorpus: Seq[String] = Seq(
    """SELECT k, SUM(v) OVER (PARTITION BY p ORDER BY g
       GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS s
       FROM t WHERE tag <> 'groups between current row' ORDER BY k""",
    """SELECT k, COUNT(*) OVER (ORDER BY g GROUPS 2 PRECEDING) AS c
       FROM t -- groups unbounded preceding""")

  property("GROUPS-frame rewrite is identical outside masked regions") =
    forAll(Gen.zip(Gen.oneOf(groupsCorpus ++ corpus),
      Gen.chooseNum(0, 1000))) { case (q, salt) =>
      val j = junked(q, salt)
      val rq = scala.util.Try(Dialect.rewriteGroupsFrames(q))
      val rj = scala.util.Try(Dialect.rewriteGroupsFrames(j))
      rq.isSuccess == rj.isSuccess && rq.toOption.zip(rj.toOption)
        .forall { case (a, b) =>
          Dialect.stripLiterals(a) == Dialect.stripLiterals(b)
        }
    }

  property("window-EXCLUDE rewrite is identical outside masked regions") =
    forAll(qAndSalt) { case (q, salt) =>
      val j = junked(q, salt)
      val rq = scala.util.Try(Dialect.rewriteWindowExclude(q))
      val rj = scala.util.Try(Dialect.rewriteWindowExclude(j))
      rq.isSuccess == rj.isSuccess && rq.toOption.zip(rj.toOption)
        .forall { case (a, b) =>
          Dialect.stripLiterals(a) == Dialect.stripLiterals(b)
        }
    }

  // the round-17 window passes (w18 DISTINCT lowering, w20 FILTER fold,
  // w21 chained-window inlining) obey the same masked-content contract
  private def maskedInvariant(f: String => String) =
    forAll(qAndSalt) { case (q, salt) =>
      val j = junked(q, salt)
      val rq = scala.util.Try(f(q))
      val rj = scala.util.Try(f(j))
      rq.isSuccess == rj.isSuccess && rq.toOption.zip(rj.toOption)
        .forall { case (a, b) =>
          Dialect.stripLiterals(a) == Dialect.stripLiterals(b)
        }
    }

  property("DISTINCT-window rewrite is identical outside masked regions") =
    maskedInvariant(Dialect.rewriteDistinctWindow)

  property("window-FILTER fold is identical outside masked regions") =
    maskedInvariant(Dialect.rewriteWindowFilter)

  property("chained-window inlining is identical outside masked regions") =
    maskedInvariant(Dialect.inlineChainedWindows)

  property("ordered-aggregate rewrite is identical outside masked regions") =
    maskedInvariant(Dialect.rewriteOrderedAggs)

  property("pattern-operator rewrite is identical outside masked regions") =
    maskedInvariant(Dialect.rewriteSimilarGlob)

  property("script splitting is blind to masked content") =
    forAll(qAndSalt) { case (q, salt) =>
      val j = junked(q, salt)
      val rq = scala.util.Try(Dialect.splitStatements(q))
      val rj = scala.util.Try(Dialect.splitStatements(j))
      rq.isSuccess == rj.isSuccess && rq.toOption.zip(rj.toOption)
        .forall { case (a, b) =>
          a.map(_.size) == b.map(_.size)
        }
    }
}

/** Model-based property for the as-of join family (rewritten to the
  * struct-payload carry in round 12): on random keyed timelines —
  * including null right-side values, null times, and duplicate
  * timestamps — AsOf.join must match a driver-side reference
  * implementation of the documented semantics for every
  * (direction, strictness) combination.
  */
object AsOfModelProps extends Properties("AsOfModel") {

  import org.apache.spark.sql.functions._

  private lazy val spark = SparkTestBase.spark

  private case class L(id: Long, k: Int, t: Long)
  private case class R(id: Long, k: Int, t: java.lang.Long, v: java.lang.Double)

  private val genLeft = Gen.listOfN(12, Gen.zip(
    Gen.chooseNum(0, 3), Gen.chooseNum(0L, 20L)))
  private val genRight = Gen.listOfN(12, Gen.zip(
    Gen.chooseNum(0, 3), Gen.option(Gen.chooseNum(0L, 20L)),
    Gen.option(Gen.chooseNum(-5.0, 5.0))))

  /** Reference semantics: nearest right row of the same key, backward
    * (t_r <= / < t_l) or forward; null right time never matches; ties at
    * the same time break toward the larger right id.
    */
  private def model(ls: Seq[L], rs: Seq[R], forward: Boolean,
                    strict: Boolean): Map[Long, Option[Long]] =
    ls.map { l =>
      val cand = rs.filter(r => r.k == l.k && r.t != null).filter { r =>
        val rt = r.t.longValue()
        (forward, strict) match {
          case (false, false) => rt <= l.t
          case (false, true)  => rt < l.t
          case (true, false)  => rt >= l.t
          case (true, true)   => rt > l.t
        }
      }
      val best = if (cand.isEmpty) None
      else {
        val bestT =
          if (forward) cand.map(_.t.longValue()).min
          else cand.map(_.t.longValue()).max
        Some(cand.filter(_.t.longValue() == bestT).maxBy(_.id).id)
      }
      l.id -> best
    }.toMap

  property("matches the reference model for all directions/strictness under nulls") =
    forAll(genLeft, genRight) { (lRaw, rRaw) =>
      import spark.implicits._
      val ls = lRaw.zipWithIndex.map { case ((k, t), i) => L(i.toLong, k, t) }
      val rs = rRaw.zipWithIndex.map { case ((k, t, v), i) =>
        R(100L + i, k, t.map(Long.box).orNull,
          v.map(Double.box).orNull)
      }
      // tuples, not the private model classes: an encoder of a nested
      // private class generates code Janino cannot compile
      val lDf = ls.map(l => (l.id, l.k, l.t)).toDF("id", "k", "t")
      val rDf = rs.map(r => (r.id, r.k, Option(r.t).map(_.longValue),
        Option(r.v).map(_.doubleValue))).toDF("rid", "k", "rt", "v")
      Seq((false, false), (false, true), (true, false), (true, true))
        .forall { case (fwd, strict) =>
          val out = graft.ops.AsOf.join(lDf, rDf,
              keyCol = "k", leftTimeCol = "t", rightTimeCol = "rt",
              valueCols = Seq("rid", "v"), rightIdCol = "rid",
              strict = strict,
              direction = if (fwd) "forward" else "backward")
            .select(col("id"), col("asof_rid"))
            .collect()
            .map(r => r.getLong(0) ->
              (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
          out == model(ls, rs, fwd, strict)
        }
    }
}

/** Model-based property for the window-frame EXCLUDE rewrite (w12): on
  * random partitioned, tied, null-bearing datasets, the dialect's
  * full-frame-minus-slice algebra must match a driver-side reference
  * implementation of the standard's exclusion semantics for all three
  * kinds over the RANGE UNBOUNDED PRECEDING..CURRENT ROW frame (the
  * shape the same-text w12 driver query gates against native DuckDB).
  */
object WindowExcludeProps extends Properties("WindowExclude") {

  private lazy val spark = SparkTestBase.spark

  private case class W(id: Long, p: Int, o: Int, v: Option[Long])

  private val genRows = Gen.listOfN(14, Gen.zip(
    Gen.chooseNum(0, 2), Gen.chooseNum(0, 4),
    Gen.option(Gen.chooseNum(-9L, 9L))))

  /** frame = partition rows with o' <= o (all peers included); excluded
    * slice per kind; SUM over no remaining non-null values is NULL.
    */
  private def model(rows: Seq[W], r: W, kind: String): (Option[Long], Long) = {
    val frame = rows.filter(x => x.p == r.p && x.o <= r.o)
    val excluded: Set[Long] = kind match {
      case "current" => Set(r.id)
      case "group"   => frame.filter(_.o == r.o).map(_.id).toSet
      case "ties"    => frame.filter(x => x.o == r.o && x.id != r.id)
        .map(_.id).toSet
    }
    val vs = frame.filterNot(x => excluded.contains(x.id)).flatMap(_.v)
    (if (vs.isEmpty) None else Some(vs.sum), vs.size.toLong)
  }

  property("algebra matches the standard's exclusion semantics") =
    forAll(genRows) { raw =>
      import spark.implicits._
      val rows = raw.zipWithIndex.map { case ((p, o, v), i) =>
        W(i.toLong, p, o, v)
      }
      // tuples, not W: Janino cannot codegen an encoder for a case class
      // nested in a Properties object (falls back to interpreted with an
      // ERROR log per case)
      rows.map(w => (w.id, w.p, w.o, w.v))
        .toDF("id", "p", "o", "v").createOrReplaceTempView("wx_prop")
      val fr = "PARTITION BY p ORDER BY o RANGE BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW"
      val got = graft.api.Table.sessionSql(spark,
        s"""SELECT id,
              SUM(v) OVER ($fr EXCLUDE CURRENT ROW) AS s_cur,
              COUNT(v) OVER ($fr EXCLUDE CURRENT ROW) AS c_cur,
              SUM(v) OVER ($fr EXCLUDE GROUP) AS s_grp,
              COUNT(v) OVER ($fr EXCLUDE GROUP) AS c_grp,
              SUM(v) OVER ($fr EXCLUDE TIES) AS s_ties,
              COUNT(v) OVER ($fr EXCLUDE TIES) AS c_ties
            FROM wx_prop""").toDF.collect()
        .map { x =>
          def os(i: Int) = if (x.isNullAt(i)) None else Some(x.getLong(i))
          x.getLong(0) -> ((os(1), x.getLong(2)), (os(3), x.getLong(4)),
            (os(5), x.getLong(6)))
        }.toMap
      rows.forall { r =>
        got(r.id) == ((model(rows, r, "current"), model(rows, r, "group"),
          model(rows, r, "ties")))
      }
    }
}

/** `Dedup.jaccardPairs` against the plain-Scala exhaustive enumeration
  * over the oracle's gram sets ([[JaccardOracle]]), for k ∈ {3, 5} and
  * t ∈ {0.5, 0.6, 0.9}, on corpora of small-vocabulary texts, planted
  * " dup" copies and dup-of-dup chains, identical texts, texts shorter
  * than k, zero-token and null texts, and one planted pair at exactly t.
  */
object JaccardPairsProps extends Properties("JaccardPairs") {

  private lazy val spark = SparkTestBase.spark

  private val vocabText = Gen.choose(0, 14).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "B", "e"))).flatMap(ws =>
    Gen.oneOf(" ", ", ", ". ").map(ws.mkString))
  // distinct tokens, so every gram is distinct; overlapping offsets give
  // partial overlaps between two such texts
  private val distinctText = Gen.zip(Gen.choose(0, 4), Gen.choose(1, 14)).map {
    case (off, n) => (off until off + n).map(i => s"w$i").mkString(" ")
  }
  private val base: Gen[String] = Gen.frequency(
    6 -> vocabText, 4 -> distinctText,
    1 -> Gen.oneOf("", "!!", " . "), 1 -> Gen.const(null))

  /** Bases, then copies, " dup" copies and " dup dup" copies of earlier
    * documents — derived ones included, which makes chains.
    */
  private val corpus: Gen[Vector[String]] = for {
    bases <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, base))
    derived <- Gen.choose(0, 8).flatMap(Gen.listOfN(_,
      Gen.zip(Gen.choose(0, 1000), Gen.oneOf("", " dup", " dup dup"))))
  } yield derived.foldLeft(bases.toVector) { case (all, (i, suffix)) =>
    all :+ Option(all(i % all.size)).map(_ + suffix).orNull
  }

  /** A text of m distinct grams and its copy with d more, m/(m+d) == t. */
  private def exactlyAt(k: Int, t: Double): Seq[String] = {
    val (m, d) = (for (d <- 1 to 2; m <- 1 to 12 if m.toDouble / (m + d) == t)
      yield (m, d)).head
    val y = (0 until k + m - 1).map(i => s"x$i").mkString(" ")
    Seq(y, y + " dup" * d)
  }

  property("matches the exhaustive enumeration over the oracle's gram sets") =
    forAll(corpus, Gen.oneOf(3, 5), Gen.oneOf(0.5, 0.6, 0.9)) { (texts, k, t) =>
      import spark.implicits._
      // ids run against insertion order, so a copy often has the lower id
      val docs = (texts ++ exactlyAt(k, t)).zipWithIndex
        .map { case (text, i) => (1000L - i, text) }
      val got = graft.ops.Dedup.jaccardPairs(docs.toDF("doc_id", "text"),
          "doc_id", "text", shingleK = k, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      got == JaccardOracle.pairs(docs, k, t)
    }
}
