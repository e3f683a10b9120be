package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Unit behavior of the custom Catalyst expressions via the SQL surface. */
class ExpressionsSpec extends GraftSuite {
  import spark.implicits._

  test("cosine_sim matches a hand-computed value and handles zero vectors") {
    val r = spark.sql(
      """select cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) a,
                cosine_sim(array(1.0d, 0.0d), array(0.0d, 2.0d)) b,
                cosine_sim(array(1.0d, 2.0d), array(3.0d, 4.0d)) c,
                cosine_sim(array(0.0d, 0.0d), array(1.0d, 1.0d)) z""").collect()(0)
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
    val expected = (1.0 * 3 + 2.0 * 4) / (math.sqrt(5.0) * math.sqrt(25.0))
    assert(r.getDouble(2) == expected)
    assert(r.isNullAt(3))
  }

  test("cosine_sim: NaN input beats the zero-norm null sentinel") {
    val r = spark.sql(
      """select cosine_sim(array(cast('NaN' as double), 1.0d), array(0.0d, 0.0d)) a,
                cosine_sim(array(0.0d, 0.0d), array(cast('NaN' as double), 1.0d)) b,
                cosine_sim(array(cast('NaN' as double), 1.0d), array(1.0d, 1.0d)) c""").collect()(0)
    assert(!r.isNullAt(0) && r.getDouble(0).isNaN) // NaN vs zero-norm -> NaN
    assert(!r.isNullAt(1) && r.getDouble(1).isNaN) // either side
    assert(!r.isNullAt(2) && r.getDouble(2).isNaN) // NaN vs normal -> NaN
  }

  test("jaro_winkler: textbook values, boost threshold, empty convention") {
    val r = spark.sql(
      """select jaro_winkler('MARTHA', 'MARHTA') a,
                jaro_winkler('DWAYNE', 'DUANE') b,
                jaro_winkler('abc', 'abc') c,
                jaro_winkler('', 'abc') e1,
                jaro_winkler('', '') e2,
                jaro_winkler('ab', 'ba') z,
                jaro_winkler('abcdefgh', 'abzzzzzz') t""").collect()(0)
    // MARTHA/MARHTA: jaro 17/18, prefix 3 -> 0.9611...
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-15)
    assert(math.abs(r.getDouble(1) - 0.8400000000000001) < 1e-15)
    assert(r.getDouble(2) == 1.0)
    assert(r.getDouble(3) == 0.0) // empty side -> 0
    assert(r.getDouble(4) == 0.0) // DuckDB convention: both empty -> 0
    assert(r.getDouble(5) == 0.0) // window 0 -> no matches
    // jaro exactly 0.5 <= 0.7 threshold: prefix boost must NOT apply
    assert(r.getDouble(6) == 0.5)
  }

  test("minhash_sig: deterministic, order-invariant, null on empty") {
    val r = spark.sql(
      """select minhash_sig(array(1L, 2L, 3L), 16) a,
                minhash_sig(array(3L, 2L, 1L), 16) b,
                minhash_sig(array_remove(array(1L), 1L), 16) e""").collect()(0)
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    assert(r.getSeq[Long](0).length == 16)
    assert(r.isNullAt(2))
  }

  test("minhash similarity estimate tracks true overlap") {
    // sets share 50 of 100 elements -> true jaccard = 50/150
    val a = (1L to 100L).toArray
    val b = (51L to 150L).toArray
    val df = Seq((a, b)).toDF("a", "b")
    val sim = df.select(
      aggregate(
        zip_with(
          call_function("minhash_sig", col("a"), lit(256)),
          call_function("minhash_sig", col("b"), lit(256)),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / 256).collect()(0).getDouble(0)
    val truth = 50.0 / 150.0
    assert(math.abs(sim - truth) < 0.1, s"est $sim vs true $truth")
  }

  test("simhash64: identical inputs equal, small edits nearby, disjoint far") {
    val base = (1L to 64L).toArray
    val edited = base.take(60) ++ Array(901L, 902L, 903L, 904L)
    val other = (1001L to 1064L).toArray
    val df = Seq((base, edited, other)).toDF("a", "b", "c")
    val r = df.select(
      bit_count(call_function("simhash64", col("a"))
        .bitwiseXOR(call_function("simhash64", col("b")))).as("near"),
      bit_count(call_function("simhash64", col("a"))
        .bitwiseXOR(call_function("simhash64", col("c")))).as("far")).collect()(0)
    assert(r.getInt(0) < r.getInt(1), s"near=${r.getInt(0)} far=${r.getInt(1)}")
    assert(r.getInt(0) <= 16)
  }

  test("sign_bits: deterministic and sensitive to direction") {
    // coordinates chosen so no ±1 combination sums to exactly 0 — a zero
    // projection would leave that hyperplane's bit unflipped for -v
    val r = spark.sql(
      """select sign_bits(array(1.0d, 2.25d, 4.125d), 16) a,
                sign_bits(array(1.0d, 2.25d, 4.125d), 16) a2,
                sign_bits(array(-1.0d, -2.25d, -4.125d), 16) neg""").collect()(0)
    assert(r.getLong(0) == r.getLong(1))
    // opposite vector flips every hyperplane side
    assert((r.getLong(0) ^ r.getLong(2)) == 0xFFFFL)
  }

  test("topk_by returns best-first with ascending-id tie-break") {
    val df = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 1.0), (5L, 7.0))
      .toDF("id", "s")
    val top = df.agg(call_function("topk_by", col("s"), col("id"), lit(3)).as("t"))
      .select(posexplode(col("t"))).collect()
    val got = top.map { case Row(_, r: Row) => (r.getDouble(0), r.getLong(1)) }.toSeq
    assert(got == Seq((9.0, 2L), (9.0, 3L), (7.0, 5L)))
  }

  test("topk_by with k above the candidate count returns every candidate") {
    val df = Seq((1L, 5.0), (2L, 9.0)).toDF("id", "s")
    val top = df.agg(call_function("topk_by", col("s"), col("id"), lit(10)).as("t"))
      .select(posexplode(col("t"))).collect()
    assert(top.map { case Row(_, r: Row) => r.getLong(1) }.toSeq == Seq(2L, 1L))
  }

  test("minhash_sig, simhash64, cosine_sim and sign_bits run compiled with no interpreted fallback") {
    val compiled = spark.newSession()
    compiled.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    compiled.conf.set("spark.sql.codegen.fallback", "false")
    graft.functions.Registry.registerAll(compiled)
    // a range, not a local relation, so nothing is folded at planning time
    val q = """SELECT id,
        minhash_sig(window_hashes(transform(split(t, ' '), s -> xxhash64(s)), 3), 8) AS mh,
        simhash64(transform(split(t, ' '), s -> xxhash64(s))) AS sh,
        cosine_sim(v, array(0.5D, -0.25D, 1.0D)) AS cs,
        sign_bits(v, 8) AS sb
      FROM (SELECT id,
              CASE id WHEN 0 THEN 'alpha beta gamma delta epsilon' ELSE '' END AS t,
              CASE id WHEN 0 THEN array(0.5D, -0.25D, 1.0D) ELSE array(0.0D, 0.0D, 0.0D) END AS v
            FROM range(0, 2, 1, 2))
      ORDER BY id"""
    val got = compiled.sql(q).collect()
    assert(got.toSeq == spark.sql(q).collect().toSeq)
    assert(got(0).getSeq[Long](1).size == 8)
    assert(math.abs(got(0).getDouble(3) - 1.0) < 1e-12)
    assert(got(1).isNullAt(3)) // zero norm
  }

  test("unicode_normalize: NFC composes, NFKC folds compatibility forms") {
    val r = spark.sql(
      """select unicode_normalize('cafe\u0301') nfc,
                unicode_normalize('\uFB01le \u2460', 'NFKC') nfkc,
                unicode_normalize('plain ascii') same,
                unicode_normalize(cast(null as string)) nn""").collect()(0)
    assert(r.getString(0) == "caf\u00e9")       // e + U+0301 -> precomposed
    assert(r.getString(1) == "file 1")           // fi ligature + circled 1
    assert(r.getString(2) == "plain ascii")
    assert(r.isNullAt(3))
  }

  test("unicode_normalize makes decomposed/composed dups hash-identical") {
    val df = Seq((1L, "caf\u00e9 bonbon"), (2L, "cafe\u0301 bonbon"))
      .toDF("id", "text")
    val distinctRaw = df.select(md5(col("text"))).distinct().count()
    val distinctNorm = df.select(
      md5(call_function("unicode_normalize", col("text")))).distinct().count()
    assert(distinctRaw == 2 && distinctNorm == 1)
  }

  test("vec_sum / vec_sum_long: element-wise sums, nulls skipped, empty -> null") {
    graft.functions.Registry.registerAll(spark)
    val df = Seq(
      (1, Some(Array(1.0, 2.0, 3.0))),
      (1, Some(Array(0.5, 0.5, 0.5))),
      (1, None),
      (2, Some(Array(10.0, 20.0, 30.0)))
    ).toDF("g", "v")
    val r = df.groupBy("g")
      .agg(call_function("vec_sum", col("v")).as("s"))
      .orderBy("g").collect()
    assert(r(0).getSeq[Double](1) == Seq(1.5, 2.5, 3.5))
    assert(r(1).getSeq[Double](1) == Seq(10.0, 20.0, 30.0))
    val rl = Seq((1, Array(1L, 2L)), (1, Array(3L, 4L))).toDF("g", "v")
      .agg(call_function("vec_sum_long", col("v")).as("s")).collect()(0)
    assert(rl.getSeq[Long](0) == Seq(4L, 6L))
    val empty = Seq((1, Option.empty[Array[Double]])).toDF("g", "v")
      .agg(call_function("vec_sum", col("v")).as("s")).collect()(0)
    assert(empty.isNullAt(0))
  }

  test("vec_sum_long is partition-order independent (exact integer sums)") {
    graft.functions.Registry.registerAll(spark)
    val data = (1L to 4000L).map(i => Array(i, -i * 7, i * i))
    def total(parts: Int) =
      spark.sparkContext.parallelize(data, parts).toDF("v")
        .agg(call_function("vec_sum_long", col("v"))).collect()(0).getSeq[Long](0)
    assert(total(1) == total(13) && total(13) == total(32))
  }

  test("topk_by agrees with window ranking on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter(col("vec_id") === 7)
    val viaAgg = graft.ops.Similarity
      .bruteForceTopK(emb, probes, "vec_id", "embedding", 5)
      .select("vec_id", "sim").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val scored = emb.filter(col("vec_id") =!= 7).crossJoin(
        probes.select(col("embedding").as("pv")))
      .select(col("vec_id"),
        call_function("cosine_sim", col("embedding"), col("pv")).as("sim"))
    val viaSort = scored.orderBy(desc("sim"), col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaAgg == viaSort)
  }

  test("array_sum_exact / array_avg_exact (w22): exact integral and " +
      "decimal folds, null skips, empty -> NULL, overflow loud, " +
      "float refuses") {
    graft.functions.Registry.registerAll(spark)
    val r = spark.sql(
      """SELECT array_sum_exact(array(3L, 1L, 2L)) AS s,
                array_avg_exact(array(3L, 1L, 2L)) AS a,
                array_sum_exact(array(CAST(NULL AS BIGINT))) AS sn,
                array_sum_exact(slice(array(1L), 1, 0)) AS se,
                array_sum_exact(array(CAST(1.25 AS DECIMAL(10,2)),
                                      CAST(2.50 AS DECIMAL(10,2)))) AS sd,
                array_avg_exact(array(CAST(1.25 AS DECIMAL(10,2)),
                                      CAST(2.50 AS DECIMAL(10,2)))) AS ad,
                array_sum_exact(array(2, null, 5)) AS ni
      """).collect()(0)
    assert(r.getLong(0) == 6L && r.getDouble(1) == 2.0)
    assert(r.isNullAt(2) && r.isNullAt(3))
    assert(r.getDecimal(4).toPlainString == "3.75")
    assert(r.getDouble(5) == 1.875)
    assert(r.getLong(6) == 7L)
    // integer overflow is loud (Math.addExact), not a silent wrap
    assert(intercept[Exception](spark.sql(
      s"SELECT array_sum_exact(array(${Long.MaxValue}L, 1L))").collect())
      .toString.contains("overflow"))
    // float element types refuse at analysis time
    assert(intercept[Exception](spark.sql(
      "SELECT array_sum_exact(array(1.5D, 2.5D))").collect())
      .getMessage.contains("integral and decimal"))
  }
}
