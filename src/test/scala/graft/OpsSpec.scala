package graft

import org.apache.spark.sql.functions._

import graft.ops._

/** Behavioral tests for the pipeline operators on crafted fixtures. */
class OpsSpec extends GraftSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away home"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat and runs far away home"), // near dup of 1
    (4L, "completely different text about spark catalyst optimizer internals"),
    (5L, "der schnelle braune fuchs springt und ist nicht mit auf zu haus")
  ).toDF("doc_id", "text")

  test("Events.readRaw normalizes micros-timestamp and nanos-long fixtures identically") {
    // the r8 fixture regeneration flipped events.ts from TIMESTAMP(NANOS)
    // to timestamp[us] and silently broke every raw-time query; this pin
    // builds BOTH encodings of the same instants and asserts the reader
    // lands on identical canonical epoch-micros longs
    import java.nio.file.Files
    val us = Seq(0L, 1L, 1700000000000000L, 1700000003141593L)
    def writeFixture(rows: org.apache.spark.sql.DataFrame): String = {
      val dir = Files.createTempDirectory("evunit").toString
      val raw = s"$dir/raw"
      rows.coalesce(1).write.mode("overwrite").parquet(raw)
      val part = new java.io.File(raw).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(dir, "events.parquet"))
      dir
    }
    val base = us.zipWithIndex.map { case (u, i) =>
      (i.toLong, u, i.toLong, "t", 1.0, "{}") }
    val nanosDir = writeFixture(base.map { case (id, u, uid, t, v, p) =>
      (id, u * 1000L, uid, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val microsDir = writeFixture(base
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("cast(timestamp_micros(ts) as timestamp_ntz)")))
    def got(dir: String): Seq[(Long, Long)] =
      graft.streaming.Events.readRaw(spark, dir)
        .select(col("event_id"), col("ts")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val want = base.map { case (id, u, _, _, _, _) => (id, u) }
    assert(got(nanosDir) == want)
    assert(got(microsDir) == want)
  }

  test("exactDedup keeps the lowest id per duplicate group") {
    val kept = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 5L))
    val groups = Dedup.exactGroups(docs, "text", "doc_id")
    assert(groups.filter(col("keep_id") === 1).collect()(0).getAs[Long]("n_dups") == 2)
  }

  private def jaccardAt04: Map[(Long, Long), Double] =
    Dedup.jaccardPairs(docs, "doc_id", "text", shingleK = 3, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("jaccardPairs finds the exact and near duplicate, not the unrelated") {
    // docs 1, 2 are identical and 3 is a one-word edit of them; 4 and 5
    // share no 3-gram with anything
    assert(jaccardAt04.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("jaccardPairs computes the exact value") {
    // 12 distinct 3-grams each; docs 1 and 3 differ in one word, which
    // touches 3 grams: 9 shared of 15 in the union
    assert(jaccardAt04 == Map((1L, 2L) -> 1.0, (1L, 3L) -> 9.0 / 15, (2L, 3L) -> 9.0 / 15))
  }

  test("contaminationFlags marks gram overlap with the eval set, counts distinct grams") {
    // eval = doc 1; doc 2 (exact dup) shares all grams, doc 3 (near dup)
    // shares the prefix/suffix grams, docs 4/5 share none at n=5
    val eval = docs.filter(col("doc_id") === 1).select("text")
    val r = Dedup.contaminationFlags(docs, "doc_id", "text", eval, "text", n = 5)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getBoolean(2)))).toMap
    val nGrams1 = 14 - 5 + 1 // 14 tokens, distinct 5-grams
    assert(r(1L) == ((nGrams1.toLong, true)))
    assert(r(2L) == ((nGrams1.toLong, true)))
    assert(r(3L)._2 && r(3L)._1 > 0 && r(3L)._1 < nGrams1)
    assert(r(4L) == ((0L, false)))
    assert(r(5L) == ((0L, false)))
  }

  test("quantizeInt8 bounds reconstruction error by scale/2 and survives zero vectors") {
    val emb = Seq(
      (1L, Array(0.3, -0.7, 0.05, 0.7)),
      (2L, Array(0.0, 0.0, 0.0, 0.0)) // zero vector: scale 0, q all-zero
    ).toDF("vec_id", "v")
    val r = Quantize.quantizeInt8(emb, "v")
      .select(col("vec_id"), col("q_scale"), col("q"),
        Quantize.dequantize(col("q"), col("q_scale")).as("dq"), col("v"))
      .collect().map(x => x.getLong(0) -> x).toMap
    val row1 = r(1L)
    val scale1 = row1.getDouble(1)
    assert(scale1 == 0.7 / 127.0)
    val qv = row1.getSeq[Long](2)
    assert(qv.max <= 127 && qv.min >= -127)
    assert(qv(1) == -127L && qv(3) == 127L) // extremes hit the rails exactly
    val err = row1.getSeq[Double](3).zip(row1.getSeq[Double](4))
      .map { case (d, o) => math.abs(d - o) }.max
    assert(err <= scale1 / 2 + 1e-15, s"max err $err > scale/2 ${scale1 / 2}")
    assert(r(2L).getDouble(1) == 0.0 && r(2L).getSeq[Long](2).forall(_ == 0L))
  }

  test("Profile.summarize counts rows, nulls, and exact distincts per column") {
    val df = Seq(
      (1L, Some("a")), (2L, Some("a")), (3L, None), (4L, Some("b"))
    ).toDF("id", "tag")
    val r = Profile.summarize(df, Seq("id", "tag"))
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r("id") == ((4L, 0L, 4L)))
    assert(r("tag") == ((4L, 1L, 2L))) // null not counted as a distinct value
  }

  test("Profile.psi matches the hand-computed index and floors empty buckets") {
    // ref: buckets (2,1)/3 -> (2/3, 1/3); cur: (1,2)/3 -> (1/3, 2/3)
    // PSI = (1/3)ln2 + (1/3)ln2 = (2/3)ln2
    val df = Seq(
      ("g", 0.5, true), ("g", 0.7, true), ("g", 1.5, true),
      ("g", 0.5, false), ("g", 1.5, false), ("g", 1.7, false)
    ).toDF("grp", "v", "ref")
    val r = Profile.psi(df, "grp", "v", "ref", bins = 2, lo = 0.0, hi = 2.0)
      .collect()(0)
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getDouble(3) ==
      BigDecimal(2.0 / 3.0 * math.log(2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // a bucket observed on one side only gets the 1e-6 floor, not ±inf
    val skew = Seq(("g", 0.5, true), ("g", 1.5, false)).toDF("grp", "v", "ref")
    val p = Profile.psi(skew, "grp", "v", "ref", bins = 2, lo = 0.0, hi = 2.0)
      .collect()(0).getDouble(3)
    val exp = 2.0 * (1.0 - 1e-6) * math.log(1.0 / 1e-6)
    assert(math.abs(p - exp) < 1e-5 && !p.isInfinite)
    // outliers clamp to the edge buckets instead of vanishing
    val out = Seq(("g", -9.0, true), ("g", 99.0, false)).toDF("grp", "v", "ref")
    assert(Profile.psi(out, "grp", "v", "ref", 2, 0.0, 2.0)
      .collect()(0).getLong(1) == 1L)
  }

  test("file-split replay admits one file per micro-batch (st11's mechanism)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", 4)
    val feed = java.nio.file.Files.createTempDirectory("st11spec").toString
    graft.streaming.Events.readRaw(s2, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"), col("value"))
      .repartitionByRange(3, col("ts"))
      .write.mode("overwrite").parquet(feed)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = s2.readStream.schema("user_id LONG, ts LONG, value DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(feed)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.incrementAndGet(); rows.addAndGet(b.count()); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    assert(batches.get() == 3, s"expected 3 micro-batches, got ${batches.get()}")
    assert(rows.get() == graft.streaming.Events
      .readRaw(spark, "/root/testdata/sf0.001").count())
  }

  test("upsertWithDeletes: tombstones delete, newer inserts resurrect, stale deletes lose") {
    val base = Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L), (4L, "d", 0L))
      .toDF("k", "v", "ver")
    val changes = Seq(
      (1L, "a", 1L, true),   // plain delete -> gone
      (2L, "b", 1L, true),   // delete ...
      (2L, "B", 2L, false),  // ... then newer insert resurrects with new payload
      (3L, "c", -1L, true)   // stale delete (older than base) -> base survives
    ).toDF("k", "v", "ver", "deleted")
    val out = Cdc.upsertWithDeletes(base, changes, Seq("k"), "ver", "deleted")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out == Map(2L -> (("B", 2L)), 3L -> (("c", 0L)), 4L -> (("d", 0L))))
  }

  test("upsertEvolved: updates may add columns; base rows null-fill them") {
    val base = Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "ver")
    val upd = Seq((2L, "B", 1L, 9L), (3L, "C", 1L, 7L))
      .toDF("k", "v", "ver", "extra")
    val out = Cdc.upsertEvolved(base, upd, Seq("k"), "ver")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      .toMap
    assert(out == Map(1L -> (("a", None)), 2L -> (("B", Some(9L))),
      3L -> (("C", Some(7L)))))
    // plain upsert still rejects schema drift (no silent widening)
    intercept[org.apache.spark.sql.AnalysisException] {
      Cdc.upsert(base, upd, Seq("k"), "ver")
    }
    ()
  }

  test("Cdc.diff: insert/delete/update changelog, null-safe compare, unchanged rows absent") {
    val before = Seq(
      (1L, Option("a"), 10L),
      (2L, Option("b"), 20L),
      (3L, Option.empty[String], 30L), // null payload field
      (4L, Option("d"), 40L)
    ).toDF("k", "v", "n")
    val after = Seq(
      (1L, Option("a"), 10L),          // unchanged -> absent
      (2L, Option("B"), 20L),          // update (v changed)
      (3L, Option.empty[String], 30L), // null == null (null-safe) -> absent
      (5L, Option("e"), 50L)           // insert; 4 deleted
    ).toDF("k", "v", "n")
    val out = graft.ops.Cdc.diff(before, after, Seq("k"), Seq("v", "n"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getString(2))))).toMap
    assert(out == Map(
      2L -> (("update", Some("B"))),
      4L -> (("delete", None)),       // delete carries null after-payload
      5L -> (("insert", Some("e")))))
    // applying the changelog to `before` reproduces `after`
    val applied = graft.ops.Cdc.upsertWithDeletes(
      before.withColumn("ver", lit(0L)),
      graft.ops.Cdc.diff(before, after, Seq("k"), Seq("v", "n"))
        .withColumn("ver", lit(1L))
        .withColumn("deleted", col("op") === "delete").drop("op"),
      Seq("k"), "ver", "deleted")
      .select("k", "v", "n").collect().map(_.toSeq).toSet
    assert(applied == after.collect().map(_.toSeq).toSet)
  }

  test("streamingIntervalJoin equals the batch interval join and bounds state by watermark") {
    val dirIn = "target/tmp/stjoin_feed"
    val h = 3600L * 1000000L
    val base = 1000L * h // an event AT epoch 0 == the initial watermark is input-filtered as late
    // left (views) at hours 0,1,2,5 for user 1; right (buys) scattered;
    // window = 1 hour inclusive
    val views = Seq((1L, 0L * h), (1L, 1L * h), (1L, 2L * h), (1L, 5L * h),
      (2L, 1L * h)).zipWithIndex.map { case ((u, t), i) => (u, 100L + i, base + t) }
    val buys = Seq((1L, 0L * h + h / 2), (1L, 2L * h), (1L, 6L * h + 1L),
      (2L, 1L * h + h), (3L, 0L)).zipWithIndex
      .map { case ((u, t), i) => (u, 200L + i, base + t) }
    import spark.implicits._
    val vDf = views.toDF("user_id", "view_id", "tus")
      .select(col("user_id"), col("view_id"),
        expr("timestamp_micros(tus)").as("view_ts"))
    val bDf = buys.toDF("p_user_id", "purchase_id", "tus")
      .select(col("p_user_id"), col("purchase_id"),
        expr("timestamp_micros(tus)").as("p_ts"))
    vDf.write.mode("overwrite").parquet(s"$dirIn/v")
    bDf.write.mode("overwrite").parquet(s"$dirIn/b")
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", 4)
    val vS = s.readStream.schema(vDf.schema).parquet(s"$dirIn/v")
    val bS = s.readStream.schema(bDf.schema).parquet(s"$dirIn/b")
    // the delay must cover the FEED's disorder (files admit in arbitrary
    // order, the corpus spans 6h), not just the join window — the same
    // replay rule st13 documents; a live in-order stream would use
    // minutes here
    val out = graft.streaming.Events.streamingIntervalJoin(
      vS, bS, "user_id", "p_user_id", "view_ts", "p_ts",
      windowSeconds = 3600L, watermark = "1 day")
    val sink = "stjoin_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = out.select(col("view_id"), col("purchase_id"))
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val got = s.table(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      (u, vid, vt) <- views
      (bu, pid, bt) <- buys
      if u == bu && bt >= vt && bt <= vt + h
    } yield (vid, pid)).toSet
    assert(got == expected, s"stream join mismatch: got $got want $expected")
    // the plan is the symmetric-hash stream join with watermark state
    // cleanup on both sides, not an unbounded product
    val p = q.lastProgress
    assert(p.stateOperators.exists(o =>
      o.operatorName != null && o.operatorName.toLowerCase.contains("join")),
      "no stream-stream join state operator in progress")
  }

  test("corpusNovelty: copies score 0, fresh text 1, partial overlap in between") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),          // all grams first-seen -> 1.0
      (2L, "alpha beta gamma delta"),          // exact copy -> 0.0
      (3L, "alpha beta gamma NEW words here"), // shares 'alpha beta gamma'
      (4L, "")                                 // zero tokens: no grams
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.corpusNovelty(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc1: 2 distinct 3-grams, both novel
    assert(out(1L) == ((2L, 2L)))
    assert(out(2L) == ((2L, 0L)), "an exact copy has zero novel grams")
    // doc3 grams: 'alpha beta gamma' (seen), + 3 new ones
    assert(out(3L) == ((4L, 3L)))
    // numeric shingling contract (TextOps.shingleHashes): a zero-token
    // text has NO gram and drops from the output entirely (the string
    // tier's '' whole-doc shingle is gone)
    assert(!out.contains(4L), "zero-token doc must be absent")
  }

  test("keySkew matches the naive per-key ranking formula") {
    // skewed counts with heavy ties: 1 key x 60, 3 x 10, 6 x 1
    val rows = (0 until 60).map(_ => "hot") ++
      (0 until 3).flatMap(k => (0 until 10).map(_ => s"warm$k")) ++
      (0 until 6).map(i => s"cold$i")
    val df = rows.toDF("k")
    val got = Profile.keySkew(df, "k", topK = 5).collect()(0)
    val counts = rows.groupBy(identity).map(_._2.size.toLong).toSeq.sorted
    val n = counts.size.toLong
    val tot = counts.sum
    val ric = counts.zipWithIndex.map { case (c, i) => (i + 1) * c }.sum
    val gini = 2.0 * ric / (n * tot) - (n + 1.0) / n
    assert(got.getLong(0) == n && got.getLong(1) == tot)
    assert(got.getDouble(2) == math.rint(60.0 / tot * 1e6) / 1e6)
    // top5 = hot(60) + 3 warm(10) + one cold(1)
    assert(got.getDouble(3) == math.rint(91.0 / tot * 1e6) / 1e6)
    assert(math.abs(got.getDouble(4) - gini) < 1e-6)
  }

  test("containmentPairs: excerpt scores 1.0 on its side; stop-gram cap drops") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon"),        // 5-token excerpt of 1
      (3L, "totally unrelated words with nothing shared here at all"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleK = 5, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3)))
    // doc 2's single 5-gram is one of doc 1's six -> c(2->1)=1, c(1->2)=1/6
    assert(got.toSeq == Seq((1L, 2L, 0.166667, 1.0)))
    // a doc-frequency cap below 2 removes every shared gram -> no pairs
    assert(Dedup.containmentPairs(docs, "doc_id", "text",
      shingleK = 5, threshold = 0.5, maxDocFreq = 1L).count() == 0L)
  }

  test("maintainCountSum: chained incremental folds equal a full recompute") {
    val base = Seq((1L, "a", 10L, 0L), (2L, "a", 20L, 0L), (3L, "b", 30L, 0L))
      .toDF("k", "g", "v", "ver")
    val agg0 = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    // delta1: replace key 1 into group b, stale update on 2, insert 4
    val d1 = Seq((1L, "b", 11L, 1L), (2L, "a", 99L, -1L), (4L, "c", 40L, 1L))
      .toDF("k", "g", "v", "ver")
    val agg1 = Cdc.maintainCountSum(base, d1, Seq("k"), "ver", "g", "v", agg0)
    // delta2 folds on TOP of delta1's state: move key 3 to c, drain b
    val snap1 = Cdc.upsert(base, d1.filter(col("ver") >= 0), Seq("k"), "ver")
    val d2 = Seq((3L, "c", 31L, 2L), (1L, "c", 12L, 2L))
      .toDF("k", "g", "v", "ver")
    val agg2 = Cdc.maintainCountSum(snap1, d2, Seq("k"), "ver", "g", "v", agg1)
    val want = Cdc.upsert(snap1, d2, Seq("k"), "ver")
      .groupBy(col("g")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m(agg2) == m(want))
    // group 'b' drained to zero must have dropped, not linger at n=0
    assert(!m(agg2).contains("b"))
  }

  test("normalizeUrl is idempotent over the crawl-variant grid") {
    // 2*3*2*3*2 = 72 combinations of scheme case x host case/port x
    // path tail x query debris x fragment — a fixed grid standing in
    // for a generator, checked in ONE Spark job
    val schemes = Seq("http://", "HTTP://")
    val hosts = Seq("Ex.COM", "www.ex.com:80", "CDN.ex.co.uk:443")
    val paths = Seq("/A/b", "/A/b/")
    val queries = Seq("", "?utm_source=x", "?id=1&ref=r&z=2")
    val frags = Seq("", "#Sec")
    val urls = for {
      s <- schemes; h <- hosts; p <- paths; q <- queries; f <- frags
    } yield s + h + p + q + f
    val df = urls.toDF("u")
      .select(TextOps.normalizeUrl(col("u")).as("n1"))
      .select(col("n1"), TextOps.normalizeUrl(col("n1")).as("n2"))
    assert(df.filter(col("n1") =!= col("n2")).count() == 0L)
    // and the grid actually collapses: every variant of the same page
    // normalizes to one of exactly |hosts' registrable paths| forms
    val distinct = df.select(col("n1")).distinct().count()
    assert(distinct <= 18L, s"grid collapsed to $distinct forms (want <= 18)")
  }

  test("Profile.psi is invariant under swapping the segments") {
    // Events.readRaw normalizes the fixture's ts encoding to epoch micros
    val df = graft.streaming.Events.readRaw(spark, "/root/testdata/sf0.001")
      .withColumn("ref", col("event_id") % 3 === 0)
    val a = Profile.psi(df, "event_type", "value", "ref", 8, 0.0, 500.0)
      .select(col("event_type"), col("psi"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val swapped = df.withColumn("ref", !col("ref"))
    val b = Profile.psi(swapped, "event_type", "value", "ref", 8, 0.0, 500.0)
      .select(col("event_type"), col("psi"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a == b)   // (p-q)·ln(p/q) is term-wise swap-symmetric
  }

  test("lengthBatches: every multi-row batch fits the padded budget") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Packing.lengthBatches(docs, "doc_id", "source",
      TextAnalysis.tokenCount(coalesce(col("text"), lit(""))),
      widthTokens = 32, maxBatchTokens = 512)
    val over = out.groupBy(col("source"), col("bucket_len"), col("batch_id"))
      .agg(count(lit(1)).as("rows"))
      // a single row longer than the budget is allowed (own batch);
      // everything else must fit rows x bucket_len <= budget
      .filter(col("rows") * col("bucket_len") > 512 && col("rows") > 1)
    assert(over.count() == 0L)
    // ids never split across buckets: row count is preserved
    assert(out.count() == docs.count())
  }

  test("audioSegments finds energy islands with exact integer boundaries") {
    // frame=4 over 'z'(122)*4 | ' '(32)*4 | 'z'*8: energies 59536, 4096,
    // 59536, 59536 -> active 1,0,1,1 at threshold 10000 -> 2 segments,
    // longest run 2; trailing partial frames are dropped
    val df = Seq((7L, "zzzz    zzzzzzzz" + "zz")).toDF("id", "t")
    val wav = Multimodal.withWavPayload(df, "id", "t")
    val r = Multimodal.audioSegments(wav, "id", "payload",
      frame = 4, energyThreshold = 10000L).collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((4L, 3L, 2L, 2L)))
  }

  test("zorder2 interleaves bits exactly and rangeBucket clamps") {
    def ref(a: Long, b: Long): Long =
      (0 until 16).foldLeft(0L) { (z, i) =>
        z | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
      }
    val pairs = Seq((3L, 5L), (0L, 0L), (65535L, 0L), (0L, 65535L),
      (65535L, 65535L), (12345L, 54321L), (1L, 2L))
    val got = pairs.toDF("a", "b")
      .select(Skew.zorder2(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    assert(got.toSeq == pairs.map { case (a, b) => ref(a, b) })
    // rangeBucket: below-range clamps to 0, above-range to 2^bits-1,
    // in-range quantizes by floor
    val rb = Seq(-5L, 0L, 511L, 512L, 1023L, 5000L).toDF("x")
      .select(Skew.rangeBucket(col("x"), 0L, 1024L, 4).as("b"))
      .collect().map(_.getLong(0))
    assert(rb.toSeq == Seq(0L, 0L, 7L, 8L, 15L, 15L))
  }

  test("semanticDedup prunes within cells only and keeps min-id reps") {
    graft.functions.Registry.registerAll(spark)
    // c0=(1,0), c1=(0,1); ids 1,2 collapse in cell 0; ids 4,5 are
    // near-dups (cos ~0.9995) that land in DIFFERENT cells -> both kept
    // (the SemDeDup recall trade documented on the operator)
    val vecs = Seq(
      (1L, Seq(10.0, 0.0)), (2L, Seq(10.1, 0.0)), (3L, Seq(0.0, 5.0)),
      (4L, Seq(3.0, 3.1)), (5L, Seq(3.1, 3.0))
    ).toDF("vid", "v")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell", "cv")
    val kept = Dedup.semanticDedup(vecs, "vid", "v", cents, "cell", "cv",
        threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(1L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 0L))
  }

  test("TextOps URL normalization: case, ports, tracking params, slashes") {
    val urls = Seq(
      (1L, "HTTP://WWW.Ex.COM:80/Docs/7/?utm_source=a&id=9&utm_campaign=b#f"),
      (2L, "https://cdn.Example.co.UK:443/assets/3/"),
      (3L, "http://ex.net/p?utm_medium=m"),
      (4L, "https://sub.host.org:8080/a/b?x=1&ref=r&y=2")
    ).toDF("id", "u")
    val r = urls.select(col("id"), TextOps.normalizeUrl(col("u")).as("n"),
        TextOps.urlHost(col("u")).as("h"),
        TextOps.registrableDomain(col("u")).as("d"))
      .collect().map(x => x.getLong(0) -> ((x.getString(1), x.getString(2),
        x.getString(3)))).toMap
    assert(r(1L) == (("http://www.ex.com/Docs/7?id=9", "www.ex.com", "ex.com")))
    assert(r(2L) == (("https://cdn.example.co.uk/assets/3",
      "cdn.example.co.uk", "example.co.uk")))
    assert(r(3L) == (("http://ex.net/p", "ex.net", "ex.net")))
    // non-default port survives; mid-query tracking param drops cleanly
    assert(r(4L) == (("https://sub.host.org:8080/a/b?x=1&y=2",
      "sub.host.org", "host.org")))
  }

  test("contaminationFlags: hashed grams (100 TB setting) match string grams exactly") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val eval = corpus.filter(col("doc_id") < 10).select("text")
    def run(hashed: Boolean) =
      Dedup.contaminationFlags(corpus, "doc_id", "text", eval, "text",
          n = 8, hashGrams = hashed)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(run(hashed = true) == run(hashed = false))
  }

  test("quantized brute-force top-k closely tracks the exact ranking") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val probes = emb.filter(col("vec_id") < 3)
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = topSet(Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .select(col("probe_id"), col("rank").cast("long"), col("vec_id")))
    val quant = topSet(Quantize.bruteForceTopKQuantized(emb, probes, "vec_id", "embedding", 10)
      .select(col("probe_id"), col("rank"), col("vec_id")))
    val overlap = (exact intersect quant).size.toDouble / exact.size
    assert(overlap >= 0.8, s"quantized recall@10 $overlap < 0.8")
  }

  test("fingerprintPairs: planted pairs within the pigeonhole contract are ALL found") {
    val rnd = new scala.util.Random(7)
    // 40 well-separated base fingerprints, each with a partner at a known
    // hamming distance <= chunks-1; recall must be exactly 1.0
    for ((chunks, maxH) <- Seq((4, 3), (8, 7))) {
      val rows = (0 until 40).flatMap { i =>
        val base = rnd.nextLong()
        val h = rnd.nextInt(maxH + 1)
        val flipped = rnd.shuffle((0 until 64).toList).take(h)
          .foldLeft(base)((v, b) => v ^ (1L << b))
        Seq((i * 2L, base), (i * 2L + 1, flipped))
      }
      val fp = rows.toDF("id", "sh")
      val got = Dedup.fingerprintPairs(fp, maxHamming = maxH, chunks = chunks)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val planted = (0 until 40).map(i => (i * 2L, i * 2L + 1)).toSet
      assert(planted.subsetOf(got),
        s"chunks=$chunks missed ${(planted -- got).size} planted pairs")
      // and nothing reported beyond the hamming bound
      val over = Dedup.fingerprintPairs(fp, maxHamming = maxH, chunks = chunks)
        .filter(col("hamming") > maxH).count()
      assert(over == 0)
    }
  }

  test("fingerprintPairs rejects maxHamming beyond the recall guarantee") {
    val fp = Seq((1L, 42L)).toDF("id", "sh")
    intercept[IllegalArgumentException] {
      Dedup.fingerprintPairs(fp, maxHamming = 12, chunks = 4)
    }
  }

  test("jaccardPairs keeps a pair at exactly the threshold") {
    // (1,3) sits at jaccard 9/15 = 0.6: the double quotient equals the
    // double 0.6, so the verify keeps it, and the prefix and size filters
    // must not drop it first
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", shingleK = 3, threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("bucketedRangeJoin equals the naive range join on random data") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(300)(rnd.nextInt(1000).toLong).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("pid", "t")
    val ivs = Seq.fill(40)((rnd.nextInt(1000).toLong, rnd.nextInt(60).toLong))
      .zipWithIndex.map { case ((lo, len), i) => (i.toLong, lo, lo + len) }
      .toDF("iid", "lo", "hi")
    for (width <- Seq(1L, 8L, 64L, 5000L)) {
      val got = RangeJoin.bucketedRangeJoin(pts, "t", ivs, "lo", "hi", width)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"width $width")
    }
  }

  test("bucketedOverlapJoin equals the naive overlap join, one row per pair") {
    val rnd = new scala.util.Random(11)
    val a = Seq.fill(60)((rnd.nextInt(500).toLong, rnd.nextInt(80).toLong))
      .zipWithIndex.map { case ((lo, len), i) => (i.toLong, lo, lo + len) }
      .toDF("a_id", "a_lo", "a_hi")
    val b = Seq.fill(80)((rnd.nextInt(500).toLong, rnd.nextInt(40).toLong))
      .zipWithIndex.map { case ((lo, len), i) => (i.toLong, lo, lo + len) }
      .toDF("b_id", "b_lo", "b_hi")
    val want = a.join(b,
        col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(want.distinct.size == want.size) // sanity: naive join has no dups
    // widths well below interval lengths force many shared buckets per
    // pair — the first-shared-bucket rule must still emit exactly one row
    for (width <- Seq(1L, 4L, 16L, 1000L)) {
      val rows = RangeJoin.bucketedOverlapJoin(a, "a_lo", "a_hi",
          b, "b_lo", "b_hi", width)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.distinct.size == rows.size, s"dup pairs at width $width")
      assert(rows.toSet == want.toSet, s"width $width")
    }
  }

  test("bucketedRangeJoin drops inverted intervals and null bounds") {
    val pts = Seq((1L, 5L)).toDF("pid", "t")
    val ivs = Seq((1L, Some(10L), Some(0L)), (2L, None, Some(9L)), (3L, Some(0L), Some(9L)))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.bucketedRangeJoin(pts, "t", ivs, "lo", "hi", 4)
      .select("iid").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L))
  }

  test("RangeJoin buckets exactly beyond 2^53 and rejects a taken __rb") {
    // magnitudes past a double's exact-integer range: floor(x/w) in
    // doubles rounds 2^53+1 and 2^53+width-1 into the SAME double, so
    // the old formulation could mis-bucket; the integral floorDiv must
    // keep the match (r8 ADVICE)
    val base = 1L << 53
    val pts = Seq((1L, base + 3L), (2L, -base - 3L)).toDF("pid", "t")
    val ivs = Seq((10L, base + 1L, base + 5L), (20L, -base - 5L, -base - 1L))
      .toDF("iid", "lo", "hi")
    val got = RangeJoin.bucketedRangeJoin(pts, "t", ivs, "lo", "hi", 4)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 20L)))
    val ov = RangeJoin.bucketedOverlapJoin(
        Seq((1L, base + 1L, base + 5L)).toDF("a_id", "a_lo", "a_hi"),
        "a_lo", "a_hi",
        Seq((2L, base + 4L, base + 9L)).toDF("b_id", "b_lo", "b_hi"),
        "b_lo", "b_hi", 4)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ov.toSeq == Seq((1L, 2L)))
    val taken = Seq((1L, 5L, 0L)).toDF("pid", "t", "__rb")
    val ex = intercept[IllegalArgumentException] {
      RangeJoin.bucketedRangeJoin(taken, "t", ivs, "lo", "hi", 4)
    }
    assert(ex.getMessage.contains("__rb"))
  }

  test("tfidfTopTerms ranks corpus-rare terms above ubiquitous ones") {
    val docs2 = Seq(
      (1L, "zebra common common common"),
      (2L, "common common apple"),
      (3L, "common banana banana")
    ).toDF("doc_id", "text")
    val top1 = TextAnalysis.tfidfTopTerms(docs2, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // 'common' appears in all 3 docs -> idf = ln(1) = 0; unique terms win
    assert(top1 == Map(1L -> "zebra", 2L -> "apple", 3L -> "banana"))
  }

  test("scd2: validity ranges chain version-to-version, current row open-ended") {
    import org.apache.spark.sql.functions.col
    val hist = Seq((1L, 0L, 10L), (1L, 3L, 20L), (1L, 7L, 30L), (2L, 0L, 5L))
      .toDF("k", "ver", "v")
    val got = Cdc.scd2(hist, Seq("k"), "ver", openEnd = 99L)
      .orderBy("k", "ver").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 0L, 3L), (1L, 3L, 7L), (1L, 7L, 99L), (2L, 0L, 99L)))
  }

  test("bitemporalAsOf: corrections supersede by tx, belief cut excludes " +
      "later tx, latest valid_from wins, retro corrections rewrite history") {
    // statements: (k, cents, vf, vt, tx)
    val hist = Seq(
      (1L, 100L, 0L, 99L, 0L),  // base
      (1L, 200L, 5L, 99L, 1L),  // re-statement from business time 5
      (1L, 300L, 5L, 99L, 2L),  // correction of the SAME interval at tx2
      (2L, 400L, 0L, 99L, 0L),
      (2L, 999L, 0L, 10L, 2L),  // retro: shortens validity AND new value
      (3L, 500L, 0L, 4L, 0L)    // expires before validAt=7 -> absent
    ).toDF("k", "cents", "vf", "vt", "tx")
    def q(txAt: Long, validAt: Long) =
      Cdc.bitemporalAsOf(hist, Seq("k"), "vf", "vt", "tx", txAt, validAt)
        .orderBy("k").select("k", "vf", "vt", "tx", "cents")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // believed at tx2, valid at 7: k1 -> tx2 correction (supersedes tx1,
    // latest vf=5 beats the base vf=0); k2 -> retro row expired at 10?
    // no: validAt 7 < 10, retro row [0,10) covers -> 999; k3 expired
    assert(q(2L, 7L) == Seq((1L, 5L, 99L, 2L, 300L),
      (2L, 0L, 10L, 2L, 999L)))
    // believed at tx1: the tx2 correction doesn't exist yet
    assert(q(1L, 7L) == Seq((1L, 5L, 99L, 1L, 200L),
      (2L, 0L, 99L, 0L, 400L)))
    // valid at 12: k2's believed-at-tx2 statement [0,10) no longer
    // covers -> k2 absent (the retro correction REMOVED later validity)
    assert(q(2L, 12L) == Seq((1L, 5L, 99L, 2L, 300L)))
    // early business time: only the base statements cover validAt 3
    assert(q(2L, 3L) == Seq((1L, 0L, 99L, 0L, 100L),
      (2L, 0L, 10L, 2L, 999L), (3L, 0L, 4L, 0L, 500L)))
  }

  test("stratifiedSplit: exact floor proportions per stratum, id-stable membership") {
    import org.apache.spark.sql.functions.col
    val df = (0L until 100L).map(i => (if (i < 37) "a" else "b", i))
      .toDF("lang", "doc_id")
    val out = Sampling.stratifiedSplit(df, "lang", "doc_id", pct = 20)
    val counts = out.groupBy("lang", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts(("a", "test")) == 7L && counts(("a", "train")) == 30L) // floor(37*0.2)
    assert(counts(("b", "test")) == 12L && counts(("b", "train")) == 51L) // floor(63*0.2)
    // id-stability: adding rows to stratum b never flips membership in a
    val bigger = (0L until 120L).map(i => (if (i < 37) "a" else "b", i))
      .toDF("lang", "doc_id")
    val testA = out.filter(col("lang") === "a" && col("split") === "test")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val testA2 = Sampling.stratifiedSplit(bigger, "lang", "doc_id", pct = 20)
      .filter(col("lang") === "a" && col("split") === "test")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(testA == testA2)
  }

  test("editDistancePairs: dual blocking catches head and tail edits, verify is exact") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "aaaaaaaaaaaaaaaaaaaaaaaaXXXXtail-part-is-equal-here"),
      (2L, "aaaaaaaaaaaaaaaaaaaaaaaaYYYYtail-part-is-equal-here"), // head block equal, d=4
      (3L, "ZZZZbbbbbbbbbbbbbbbbbbbbbbbbbbbbcccccccccccccccccc"),
      (4L, "WWWWbbbbbbbbbbbbbbbbbbbbbbbbbbbbcccccccccccccccccc"), // tail block equal, d=4
      (5L, "completely different text with no shared block at"),
      (6L, "aaaaaaaaaaaaaaaaaaaaaaaa0123456789012345678901234567")) // head equal but d>8
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "doc_id", "text",
        prefixLen = 64, blockLen = 24, maxDist = 8)
      .orderBy(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 4L), (3L, 4L, 4L)))
  }

  test("stripHtml: tags dropped, entities decoded once, whitespace collapsed") {
    import org.apache.spark.sql.functions.{col, lit}
    val rows = Seq(
      (1L, "<p>a &amp; b</p>"),
      (2L, "<div class=\"x\">keep &lt;tag&gt;\n\n  here</div>"),
      (3L, "already &amp;#39; literal"), // decodes to the literal entity
      (4L, "<br/><br/>  ")).toDF("id", "t")
    val out = TextAnalysis.stripHtml(col("t"))
    val got = rows.select(col("id"), out.as("c")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a & b")
    assert(got(2L) == "keep <tag> here")
    assert(got(3L) == "already &#39; literal") // &amp; decoded LAST: no re-trigger
    assert(got(4L) == "")
    // escape -> strip round-trips text containing markup characters
    val tricky = "5 < 6 && \"x\" > 'y'"
    val rt = Seq(Tuple1(tricky)).toDF("t")
      .select(TextAnalysis.stripHtml(
        org.apache.spark.sql.functions.concat(
          lit("<p>"), TextAnalysis.htmlEscape(col("t")), lit("</p>"))).as("c"))
      .collect()(0).getString(0)
    assert(rt == tricky)
  }

  test("Resample.binFill: dense grid, zero-count gaps, forward-filled cents") {
    // key 1: bins 10 and 13 observed -> grid 10..13, gaps 11/12 carry 50
    val df = Seq(
      (1L, 10L * 900000000000L, 50L),
      (1L, 13L * 900000000000L + 1L, 70L), // +1ns stays in bin 13
      (2L, 5L * 900000000000L, 30L)).toDF("k", "ts", "cents")
    val out = Resample.binFill(df, "k", "ts", "cents", 900L * 1000000000L)
      .orderBy("k", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 10L, 1L, 50L), (1L, 11L, 0L, 50L), (1L, 12L, 0L, 50L),
      (1L, 13L, 1L, 70L), (2L, 5L, 1L, 30L)))
  }

  test("chunkTokens: stride windows, tail truncation, empty docs kept") {
    val docs2 = Seq(
      (1L, Some("a b c d e f g")), // 7 tokens, size 3 stride 2 -> starts 1,3,5,7
      (2L, Some("")),              // empty -> one '' chunk at start 1
      (3L, Some("x y")),           // shorter than size -> one truncated chunk
      (4L, None)                   // null text -> same as empty
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(docs2, "doc_id", "text", size = 3, stride = 2)
      .orderBy("doc_id", "start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out === Array(
      (1L, 1L, "a b c"), (1L, 3L, "c d e"), (1L, 5L, "e f g"), (1L, 7L, "g"),
      (2L, 1L, ""),
      (3L, 1L, "x y"),
      (4L, 1L, "")))
  }

  test("dedupAgainstReference equals the plain anti join even with a tiny bloom") {
    val ref = (0L until 200L).map(i => (i, s"ref doc $i")).toDF("doc_id", "text")
    val fresh = (150L until 400L).map(i => (i, s"ref doc $i")).toDF("doc_id", "text")
      .union(Seq((999L, "entirely new content")).toDF("doc_id", "text"))
    // expectedItems=8 over 200 refs -> saturated filter, massive fp rate:
    // every fresh row funnels through the exact verify join, result must
    // still equal the exact anti join (no false negatives by construction)
    val got = Dedup.dedupAgainstReference(fresh, ref, "text", expectedItems = 8)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = fresh.join(ref.select("text"), Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want)
    assert(got == ((200L until 400L) :+ 999L).sorted.toSeq)
  }

  test("dedupAgainstReference with an empty reference keeps every new doc") {
    val ref = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val fresh = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val got = Dedup.dedupAgainstReference(fresh, ref, "text", expectedItems = 10)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L))
  }

  test("bloom_agg / bloom_might_contain SQL surface: no false negatives") {
    graft.functions.Registry.registerAll(spark)
    val bf = spark.sql(
      """select bloom_agg(xxhash64(cast(id as string)), 100) bf
         from range(0, 50)""").collect()(0).getAs[Array[Byte]](0)
    spark.range(0, 60).createOrReplaceTempView("bm_probe")
    val hits = spark.sql(
      s"""select id, bloom_might_contain(X'${bf.map("%02x".format(_)).mkString}',
                                         xxhash64(cast(id as string))) m
          from bm_probe""").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((0L until 50L).forall(hits(_)), "members must always hit")
  }

  test("dedupSegments keeps first occurrence globally and preserves order") {
    val docs2 = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta"),          // beta already seen in doc 1
      (3L, "alpha\nbeta"),          // fully deduplicated -> ""
      (4L, "delta\nalpha\nepsilon") // delta, alpha seen -> "epsilon"
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSegments(docs2, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out === Array(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "delta"),
      (3L, ""),
      (4L, "epsilon")))
  }

  test("dedupSegments returns '' for null-text docs (zero segments)") {
    val docs2 = Seq((1L, Some("alpha\nbeta")), (2L, None), (3L, Some("beta")))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSegments(docs2, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out === Array((1L, "alpha\nbeta"), (2L, ""), (3L, "")))
  }

  test("dedupSegments first-occurrence tie-break is (id, position)") {
    // "x" appears at doc 1 pos 1 and doc 1 pos 0? -> within one doc the
    // earliest position wins; duplicate within a single doc also dedups
    val docs2 = Seq((1L, "x\ny\nx"), (2L, "y\nz")).toDF("doc_id", "text")
    val out = Dedup.dedupSegments(docs2, "doc_id", "text")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out === Array((1L, "x\ny"), (2L, "z")))
  }

  test("sharedRuns finds the mid-document verbatim excerpt that BOTH " +
      "cdcChunkGroups and dedupSegments miss (planted fixture)") {
    def toks(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val shared = toks("s", 20)
    val docs2 = Seq(
      (1L, s"${toks("ua", 30)} $shared ${toks("va", 30)}"),
      (2L, s"${toks("ub", 10)} $shared ${toks("vb", 5)}")
    ).toDF("doc_id", "text")
    // the copied passage is embedded mid-line with different context:
    // delimiter segmentation sees two distinct single-segment docs...
    val seg = Dedup.dedupSegments(docs2, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(seg(0).nonEmpty && seg(1).nonEmpty &&
      seg(1).contains("s0"), "dedupSegments must MISS the excerpt")
    // ...and the ~120-char run is shorter than the content-defined
    // chunks around it, so no complete chunk is shared either
    assert(Dedup.cdcChunkGroups(docs2, "doc_id", "text").count() == 0,
      "cdcChunkGroups must MISS the excerpt")
    // sharedRuns finds it exactly: one maximal 20-token run
    val got = Dedup.sharedRuns(docs2, "doc_id", "text", minRun = 15)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 30L, 10L, 20L)))
  }

  test("sharedRuns: maximality, minRun boundary, short docs, periodic " +
      "text diagonals, repeated passage, anchor-freq refusal") {
    def toks(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    // run of exactly minRun reported once; run of minRun-1 not at all
    val boundary = Seq(
      (1L, s"${toks("a", 5)} ${toks("s", 15)} ${toks("b", 5)}"),
      (2L, s"${toks("c", 3)} ${toks("s", 15)} ${toks("d", 2)}"),
      (3L, s"${toks("e", 4)} ${toks("s", 14)} ${toks("f", 4)}")
    ).toDF("doc_id", "text")
    val gotB = Dedup.sharedRuns(boundary, "doc_id", "text", minRun = 15)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    // 1-2 share s0..s14 (len 15); 3 shares only 14 tokens with each —
    // below minRun, absent; no sub-runs of the 15-run are emitted
    assert(gotB == Seq((1L, 2L, 5L, 3L, 15L)))
    // docs shorter than minRun can't host a run and are filtered
    val short = Seq((1L, toks("s", 14)), (2L, toks("s", 14)))
      .toDF("doc_id", "text")
    assert(Dedup.sharedRuns(short, "doc_id", "text", minRun = 15)
      .count() == 0)
    // periodic text: one maximal run per diagonal alignment
    val periodic = Seq((1L, "x a b a b a b y"), (2L, "z a b a b w"))
      .toDF("doc_id", "text")
    val gotP = Dedup.sharedRuns(periodic, "doc_id", "text", minRun = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(gotP == Seq((1L, 2L, 1L, 1L, 4L), (1L, 2L, 3L, 1L, 4L)))
    // a passage repeated twice in one doc yields one row per occurrence
    val rep = Seq(
      (1L, s"${toks("f", 3)} ${toks("s", 15)} ${toks("g", 3)}"),
      (2L, s"${toks("c", 5)} ${toks("s", 15)} ${toks("d", 5)} " +
        s"${toks("s", 15)} e0")
    ).toDF("doc_id", "text")
    val gotR = Dedup.sharedRuns(rep, "doc_id", "text", minRun = 15)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(gotR == Seq((1L, 2L, 3L, 5L, 15L), (1L, 2L, 3L, 25L, 15L)))
    // the s0..s14 anchor occurs 3 times corpus-wide (plus shifted
    // windows at 2): a cap of 2 REFUSES loudly instead of degrading
    val e = intercept[IllegalArgumentException] {
      Dedup.sharedRuns(rep, "doc_id", "text", minRun = 15,
        maxAnchorFreq = Some(2L))
    }
    assert(e.getMessage.contains("maxAnchorFreq=2"))
    assert(Dedup.sharedRuns(rep, "doc_id", "text", minRun = 15,
      maxAnchorFreq = Some(3L))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted == gotR)
  }

  test("removeSharedRuns cuts every duplicated run from all but the " +
      "lowest doc id; overlapping intervals merge; exact dups empty out") {
    def toks(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val sh = toks("s", 20)
    val docs2 = Seq(
      (1L, s"${toks("ua", 5)} $sh ${toks("va", 5)}"),
      (2L, s"${toks("ub", 3)} $sh ${toks("vb", 4)}"),  // loses the run
      (3L, toks("w", 8)),                              // untouched
      (4L, s"${toks("ua", 5)} $sh ${toks("va", 5)}")   // exact dup of 1
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.removeSharedRuns(docs2, "doc_id", "text",
        minRun = 15)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, s"${toks("ua", 5)} $sh ${toks("va", 5)}", 0L),
      (2L, s"${toks("ub", 3)} ${toks("vb", 4)}", 20L),
      (3L, toks("w", 8), 0L),
      (4L, "", 30L))) // whole doc was doc 1's content
    // overlapping removal intervals merge: doc 8 (the HIGHEST id)
    // embeds doc 5's run at [0,20) and doc 7's run at [10,30) -> the
    // two intervals merge into one cut [0,30), not a double-cut
    val over = Seq(
      (5L, (0 until 20).map(i => s"s$i").mkString(" ") + " " + toks("x", 3)),
      (7L, (10 until 30).map(i => s"s$i").mkString(" ") + " " + toks("z", 3)),
      (8L, toks("s", 30) + " " + toks("y", 3))
    ).toDF("doc_id", "text")
    val got2 = graft.ops.Dedup.removeSharedRuns(over, "doc_id", "text",
        minRun = 15)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got2(2) == ((8L, toks("y", 3), 30L)),
      s"overlapping intervals must merge into one cut: ${got2(2)}")
    // docs 5 and 7 share only 10 tokens (< minRun) and are each the
    // lower id of their pair with 8 — both pass through untouched
    assert(got2(0)._3 == 0L && got2(1)._3 == 0L)
  }

  test("embeddingPairsExact is a superset of bucketed embeddingPairs") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(0.99, 0.1, 0.0, 0.0)),
      (3L, Array(-1.0, 0.5, 0.2, 0.0)),
      (4L, Array(0.98, 0.15, 0.05, 0.0))
    ).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingPairsExact(vecs, "vec_id", "embedding", threshold = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Dedup.embeddingPairs(vecs, "vec_id", "embedding",
        bits = 8, threshold = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(bucketed.subsetOf(exact))
  }

  test("embeddingPairsBanded equals embeddingPairsExact on planted rotations") {
    // real corpus + planted rotation chains (the d08 construction): banded
    // LSH candidates + exact verify must reproduce the exhaustive pair set
    // exactly — recall 1 at the 0.9 threshold with the default banding
    val c = 0.94
    val s = math.sqrt(1.0 - c * c)
    def rot(v: Array[Double]): Array[Double] =
      v.indices.toArray.map { j =>
        if (j % 2 == 0 && j < v.length - 1) c * v(j) - s * v(j + 1)
        else if (j % 2 == 1) s * v(j - 1) + c * v(j)
        else v(j)
      }
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val planted = base ++
      base.filter(_._1 % 10 == 0).map { case (id, v) => (id + 1000000L, rot(v)) } ++
      base.filter(_._1 % 10 == 0).map { case (id, v) => (id + 2000000L, rot(rot(v))) }
    val df = planted.toSeq.toDF("vec_id", "v")
    def pairSet(d: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      d.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Dedup.embeddingPairsExact(df, "vec_id", "v", threshold = 0.9))
    val banded = pairSet(Dedup.embeddingPairsBanded(df, "vec_id", "v",
      rowBits = 12, bands = 48, threshold = 0.9))
    assert(exact.nonEmpty, "planting produced no near-dup pairs")
    assert(banded == exact,
      s"banded != exact; missed=${exact -- banded} extra=${banded -- exact}")
  }

  test("embeddingPairs finds planted near-identical vectors") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(0.99, 0.1, 0.0, 0.0)),   // near dup of 1
      (3L, Array(-1.0, 0.5, 0.2, 0.0))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(vecs, "vec_id", "embedding",
        bits = 8, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("lshTopK is a subset of bruteForceTopK candidates with valid sims") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 3)
    val lsh = Similarity.lshTopK(emb, probes, "vec_id", "embedding",
      k = 5, bits = 6, multiProbe = true)
    val rows = lsh.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sim = r.getAs[Double]("sim")
      assert(sim >= -1.0 - 1e-9 && sim <= 1.0 + 1e-9)
    }
  }

  test("IVF topK: deterministic, and recall tracks the cells-scanned ratio") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 5)
    val cents = Ivf.trainCentroids(emb, "vec_id", "embedding", nlist = 8)
    assert(cents.length == 8 && cents.head.length == 64)
    val cents2 = Ivf.trainCentroids(emb, "vec_id", "embedding", nlist = 8)
    assert(cents.map(_.toSeq).toSeq == cents2.map(_.toSeq).toSeq)
    val ivf = Ivf.topK(emb, probes, "vec_id", "embedding", 10, cents, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    // 4 of 8 cells scanned -> expect recall near 0.5 on unclustered data;
    // assert a loose floor so the test is robust
    assert(recall >= 0.2, s"recall $recall")
    val ivf2 = Ivf.topK(emb, probes, "vec_id", "embedding", 10, cents, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf == ivf2)
  }

  test("IVF lloydStep: distributed refinement equals per-cell means") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Ivf.trainCentroids(emb, "vec_id", "embedding", nlist = 4)
    val refined = Ivf.lloydStep(emb, "embedding", cents)
    assert(refined.length == 4 && refined.head.length == 64)
    // hand-compute the expected mean of one occupied cell
    val assigned = emb
      .select(Ivf.cellOf(col("embedding"), cents).as("cid"),
        col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    val byCell = assigned.groupBy(_._1)
    byCell.foreach { case (cid, vs) =>
      val mean = vs.map(_._2).transpose.map(xs => xs.sum / xs.length)
      val got = refined(cid)
      mean.toSeq.zip(got.toSeq).foreach { case (m, g) =>
        assert(math.abs(m - g) < 1e-9, s"cell $cid mismatch")
      }
    }
    // every cell id produced by assignment is within range; empty cells
    // (if any) kept their previous centroid
    (0 until 4).filterNot(byCell.contains).foreach { cid =>
      assert(refined(cid).toSeq == cents(cid).toSeq)
    }
  }

  test("langId picks the dominant stopword language") {
    val r = TextAnalysis
    val out = docs.select(col("doc_id"), r.langId(col("text")).as("l"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(5L) == "de")
  }

  test("fingerprint is word-order and duplication invariant") {
    val df = Seq("b a c a", "a b c", "x y z").toDF("t")
    val fps = df.select(TextAnalysis.fingerprint(col("t"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("bpeTrain learns hand-computed merges; trained table round-trips " +
      "through bpe_tokens") {
    // corpus: 'aaab' x2, 'ab' x1.
    //  round 0: (a,a)=4 beats (a,b)=3         -> merge (a,a)
    //  round 1: aaab=[aa,a,b]: (aa,a)=2,(a,b)=2; ab: (a,b)=1 -> (a,b)=3
    //  round 2: aaab=[aa,ab], ab=[ab]: (aa,ab)=2
    val docs = Seq("aaab aaab", "ab").toDF("text")
    val got = graft.ops.TextAnalysis.bpeTrain(docs, "text", numMerges = 3)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((0, "a", "a", 4L), (1, "a", "b", 3L),
      (2, "aa", "ab", 2L)))
    // the trained merges drive the tokenizer: 'aaab' collapses to one
    // token, 'ab' to one, 'aab' (unseen) to [aa, b] via rank-0 then none
    graft.functions.Registry.registerAll(spark)
    val merges = got.map(m => (m._2, m._3))
    val toks = Seq("aaab", "ab", "aab").toDF("t")
      .select(graft.ops.TextAnalysis.bpeTokens(col("t"), merges).as("tk"))
      .as[Seq[String]].collect().toSeq
    assert(toks == Seq(Seq("aaab"), Seq("ab"), Seq("aa", "b")))
    // tie-break: equal counts resolve to (lhs, rhs) ascending
    val tie = Seq("xy", "xz").toDF("text")
    val gotTie = graft.ops.TextAnalysis.bpeTrain(tie, "text", numMerges = 1)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(gotTie == Seq((0, "x", "y", 1L)))
    // exhaustion: more rounds than mergeable pairs stops cleanly
    val ex = graft.ops.TextAnalysis.bpeTrain(
      Seq("ab").toDF("text"), "text", numMerges = 5)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(ex == Seq((0, "a", "b", 1L)))
    // greedy-run semantics: 'aaaaa' (5 a's, overlap count 4) merges as
    // [aa, aa, a]; round 1 ties (aa,aa)=1 vs (aa,a)=1 -> rhs asc wins
    val run = graft.ops.TextAnalysis.bpeTrain(
      Seq("aaaaa").toDF("text"), "text", numMerges = 2)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(run == Seq((0, "a", "a", 4L), (1, "aa", "a", 1L)))
  }

  test("token counts and bpe estimate") {
    val r = Seq("Hello, world! ab12 cd")
      .toDF("t")
      .select(TextAnalysis.tokenCount(col("t")).as("n"),
        TextAnalysis.bpeTokenEstimate(col("t")).as("b"))
      .collect()(0)
    assert(r.getInt(0) == 4)
    // alnum = HelloworldAb12cd(16) -> ceil(16/4)=4; other = ",!" -> 2
    assert(r.getLong(1) == 6L)
  }

  test("quality score bounded and monotone-ish in substance") {
    val q = TextAnalysis.qualityFeatures(docs, "text")
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    q.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

  test("repetitionSignals computes Gopher fractions on hand-checked docs") {
    val docs2 = Seq(
      (1L, "a b a b a"),       // 5 words, 2 distinct; top 'a' 3x; 4 2-grams {ab,ba,ab,ba}
      (2L, "x y z"),           // no repetition
      (3L, "w"),               // single word: no 2-grams
      (4L, "... # ...")        // symbols only: zero \w+ words
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(docs2, "text")
      .select("doc_id", "n_words", "dup_word_frac", "top_word_frac",
        "dup_2gram_frac", "symbol_word_ratio")
      .orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 5)
    assert(r(0).getDouble(2) == 1.0 - 2.0 / 5)   // dup_word_frac
    assert(r(0).getDouble(3) == 3.0 / 5)          // 'a' three of five
    assert(r(0).getDouble(4) == 1.0 - 2.0 / 4)   // 2 distinct of 4 2-grams
    assert(r(1).getDouble(2) == 0.0 && r(1).getDouble(4) == 0.0)
    assert(r(2).getLong(1) == 1 && r(2).getDouble(4) == 0.0)
    assert(r(3).getLong(1) == 0 && r(3).getDouble(2) == 0.0
      && r(3).getDouble(3) == 0.0 && r(3).getDouble(5) == 3.0)
  }


  test("PNG codec: lossless round-trip under EVERY scanline filter type") {
    import graft.ops.Multimodal
    import Multimodal.Codec
    val px = Array.tabulate(16 * 3 * 9)(i => ((i * 37 + 11) % 251).toByte)
    for (f <- 0 to 4) {
      val enc = Codec.encodePng(px, 16, _ => f)
      val Some((w, h, out)) = Codec.pngPixels(enc): @unchecked
      assert((w, h) == (16, 9), s"filter $f dims")
      assert(out.toSeq == px.toSeq, s"filter $f is not lossless")
    }
    // mixed filters (the default row cycle) round-trip too
    val Some((_, _, mixed)) =
      Codec.pngPixels(Codec.encodePng(px, 16)): @unchecked
    assert(mixed.toSeq == px.toSeq)
  }

  test("PNG decoder reads javax.imageio output (cross-implementation interop)") {
    import graft.ops.Multimodal.Codec
    val w = 7; val h = 5
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 40) << 16) | ((y * 50) << 8) | (x + y))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val Some((dw, dh, px)) = Codec.pngPixels(bos.toByteArray): @unchecked
    assert((dw, dh) == (w, h))
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      assert((px(o) & 0xff, px(o + 1) & 0xff, px(o + 2) & 0xff) ==
        ((x * 40, y * 50, x + y)), s"pixel ($x,$y)")
    }
    // and the reverse: ImageIO reads OUR encoder's output
    val ours = Codec.encodePng(px, w)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ours))
    assert(back != null && back.getWidth == w && back.getHeight == h)
    for (y <- 0 until h; x <- 0 until w)
      assert((back.getRGB(x, y) & 0xffffff) == (img.getRGB(x, y) & 0xffffff),
        s"ImageIO disagrees at ($x,$y)")
  }

  test("PNG decoder rejects malformed payloads instead of faking values") {
    import graft.ops.Multimodal.Codec
    val good = Codec.encodePng(Array.tabulate(48)(_.toByte), 16)
    assert(Codec.pngPixels(good).isDefined)
    assert(Codec.pngPixels(null).isEmpty)
    assert(Codec.pngPixels(Array[Byte](1, 2, 3)).isEmpty)
    assert(Codec.pngPixels(good.take(40)).isEmpty, "truncated chunk walk")
    val badSig = good.clone(); badSig(0) = 0x42
    assert(Codec.pngPixels(badSig).isEmpty)
    // corrupt one IDAT byte: the chunk CRC no longer matches -> rejected
    // (never decoded to silently wrong pixels, never an exception)
    val corrupt = good.clone()
    corrupt(good.length - 20) = (corrupt(good.length - 20) ^ 0x5a).toByte
    assert(Codec.pngPixels(corrupt).isEmpty)
    // crafted IHDR with width ~2^29+: the old Int arithmetic overflowed
    // w*3 negative and crashed the allocation; must return None
    val bomb = good.clone()
    bomb(16) = 0x2a.toByte; bomb(17) = 0xaa.toByte
    bomb(18) = 0xaa.toByte; bomb(19) = 0xab.toByte
    // fix the IHDR CRC so the walk reaches the size guard
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 4 + 13)
    val cv = crc.getValue.toInt
    bomb(29) = (cv >>> 24).toByte; bomb(30) = (cv >>> 16).toByte
    bomb(31) = (cv >>> 8).toByte; bomb(32) = cv.toByte
    assert(Codec.pngPixels(bomb).isEmpty, "oversized IHDR must be rejected")
    // dispatch recognizes the container
    val mf = Codec.decode(7L, good)
    assert(mf.format == "png" && mf.width == 16 && mf.channels == 3)
  }


  test("PNG resize matches the BMP resample pixel-for-pixel (shared kernel)") {
    import graft.ops.Multimodal.Codec
    val px = Array.tabulate(4 * 3 * 4)(i => ((i * 31) % 256).toByte)
    val viaPng = Codec.pngPixels(
      Codec.resizePng(Codec.encodePng(px, 4), 2, 2).get).get._3
    // BMP stores BGR bottom-up; encode the same bytes and resize — the
    // byte-level resample must agree because both paths share the kernel
    val viaBmp = Codec.bmpPixels(
      Codec.resizeBmp(Codec.encodeBmp(px, 4), 2, 2).get).get._3
    assert(viaPng.toSeq == viaBmp.toSeq)
    // upscale round-trip stays lossless through the compressed container
    val up = Codec.pngPixels(
      Codec.resizePng(Codec.encodePng(px, 4), 8, 8).get).get
    assert(up._1 == 8 && up._2 == 8)
  }

  test("BMP codec round-trips, including 4-byte row padding and bottom-up rows") {
    import Multimodal.Codec
    // width 4 -> 12-byte rows, no padding
    val px1 = Array.tabulate(144)(i => i.toByte)
    val Some((w1, h1, c1, m1)) = Codec.decodeBmp(Codec.encodeBmp(px1, 4))
    assert((w1, h1, c1) == (4, 12, 3))
    assert(math.abs(m1 - px1.map(_ & 0xff).sum.toDouble / 144) < 1e-12)
    // width 5 -> 15-byte rows padded to 16: mean must EXCLUDE the padding
    val px2 = Array.tabulate(150)(i => (i + 7).toByte)
    val Some((w2, h2, c2, m2)) = Codec.decodeBmp(Codec.encodeBmp(px2, 5))
    assert((w2, h2, c2) == (5, 10, 3))
    assert(math.abs(m2 - px2.map(_ & 0xff).sum.toDouble / 150) < 1e-12)
    // not a BMP
    assert(Codec.decodeBmp("JFIF-not-a-bmp".getBytes).isEmpty)
  }

  test("neymanAllocation: zero-variance strata get nothing, diverse strata earn more") {
    import spark.implicits._
    val df = Seq(("a", 10L), ("a", 10L), ("a", 10L), ("a", 10L),
      ("b", 0L), ("b", 20L), ("b", 0L), ("b", 20L),
      ("c", 9L), ("c", 11L), ("c", 9L), ("c", 11L)).toDF("s", "x")
    val out = Sampling.neymanAllocation(df, "s", "x", budget = 100L)
      .orderBy("s").as[(String, Long, Long, Long)].collect().toSeq
    // hand-checked: w = sqrt(N·Σx² − (Σx)²) = 0 / 40 / 4; alloc floors
    assert(out === Seq(("a", 4L, 0L, 0L), ("b", 4L, 40L, 90L),
      ("c", 4L, 4L, 9L)))
    assert(out.map(_._4).sum <= 100L, "allocation must respect the budget")
  }

  test("resampleAudio matches an independent rational reference (negative deltas too)") {
    import Multimodal.Codec
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val samples = Array.fill(257)((rnd.nextInt(65536) - 32768).toShort)
    val df = Seq((1L, Codec.encodeWav(samples, 4000, 1))).toDF("id", "payload")
    for (f <- Seq(1, 2, 3, 4)) {
      val outRow = Multimodal.resampleAudio(df, "id", "payload", f)
        .select("payload", "resampled").first()
      assert(outRow.getBoolean(1))
      val Some((rate, ch, got)) =
        Codec.wavSamples(outRow.getAs[Array[Byte]](0))
      assert(rate === 4000 * f && ch === 1)
      // independent reference: exact rational interpolation truncated
      // toward zero (BigDecimal ROUND_DOWN) — the SQL `//` semantics the
      // m12 oracle relies on, derived without reusing the op's int code
      val want: Array[Short] =
        if (f == 1) samples
        else {
          val res = new Array[Short](f * (samples.length - 1) + 1)
          for (i <- 0 until samples.length - 1; j <- 0 until f) {
            val interp = BigDecimal((samples(i + 1) - samples(i)) * j)./%(BigDecimal(f))._1
            res(f * i + j) = (samples(i) + interp.toInt).toShort
          }
          res(res.length - 1) = samples.last
          res
        }
      assert(got.toSeq === want.toSeq)
      // duration preserved: n_out / (rate·f) == (n_in − 1)/rate + one sample
      assert(got.length === (if (f == 1) samples.length
                             else f * (samples.length - 1) + 1))
    }
    // non-WAV payloads pass through unchanged and are flagged
    val junk = Seq((2L, "not-a-wav".getBytes)).toDF("id", "payload")
    val pass = Multimodal.resampleAudio(junk, "id", "payload", 2)
      .select("payload", "resampled").first()
    assert(!pass.getBoolean(1))
    assert(new String(pass.getAs[Array[Byte]](0)) === "not-a-wav")
  }

  test("WAV codec round-trips PCM header fields and RMS") {
    import Multimodal.Codec
    val samples = Array.tabulate[Short](8000)(i =>
      (math.sin(i * 0.1) * 16384).toShort)
    val Some((rate, ch, dur, rms)) = Codec.decodeWav(Codec.encodeWav(samples, 8000, 1))
    assert(rate == 8000 && ch == 1)
    assert(math.abs(dur - 1.0) < 1e-9)
    // RMS of a 0.5-amplitude sine is ~0.5/sqrt(2)
    assert(math.abs(rms - 0.5 / math.sqrt(2)) < 0.01)
  }

  test("BMP resize: nearest-neighbor picks exact source pixels, dims correct") {
    import Multimodal.Codec
    // 4x4 image whose pixel (x,y) encodes its coordinates: B=x, G=y, R=77
    val px = Array.tabulate(4 * 4 * 3) { i =>
      val p = i / 3; ((i % 3) match {
        case 0 => p % 4; case 1 => p / 4; case 2 => 77
      }).toByte
    }
    val resized = Codec.resizeBmp(Codec.encodeBmp(px, 4), 2, 2).get
    val Some((w, h, out)) = Codec.bmpPixels(resized)
    assert((w, h) == (2, 2))
    // nearest-neighbor with floor mapping: dest (x,y) -> src (x*4/2, y*4/2)
    val got = (0 until 4).map(p => (out(p * 3) & 0xff, out(p * 3 + 1) & 0xff))
    assert(got == Seq((0, 0), (2, 0), (0, 2), (2, 2)))
    assert(out.forall(b => true) && (out(2) & 0xff) == 77)
    // upscale works too
    val up = Codec.bmpPixels(Codec.resizeBmp(Codec.encodeBmp(px, 4), 8, 8).get).get
    assert(up._1 == 8 && up._2 == 8)
  }

  test("WAV frame sampling keeps every Nth frame across channels") {
    import Multimodal.Codec
    // stereo: frame i has samples (2i, 2i+1)
    val samples = Array.tabulate[Short](20)(i => i.toShort)
    val wav = Codec.encodeWav(samples, 8000, channels = 2)
    val sampled = Codec.frameSampleWav(wav, 3).get
    val Some((rate, ch, out)) = Codec.wavSamples(sampled)
    assert(rate == 8000 / 3 && ch == 2)
    // frames 0, 3, 6, 9 -> samples (0,1),(6,7),(12,13),(18,19)
    assert(out.toSeq == Seq[Short](0, 1, 6, 7, 12, 13, 18, 19))
  }

  test("imageFeatures extracts per-channel means") {
    import Multimodal.Codec
    // all-blue image: B=200, G=0, R=0
    val px = Array.tabulate(4 * 2 * 3)(i => (if (i % 3 == 0) 200 else 0).toByte)
    val df = Seq((5L, Codec.encodeBmp(px, 4))).toDF("doc_id", "payload")
    val r = Multimodal.imageFeatures(df, "doc_id", "payload").collect()(0)
    assert(r.getInt(1) == 4 && r.getInt(2) == 2 && r.getInt(3) == 3)
    assert(r.getDouble(4) == 200.0 && r.getDouble(5) == 0.0 && r.getDouble(6) == 0.0)
  }

  test("audioFeatures computes count/mean/rms/peak over decoded samples") {
    import Multimodal.Codec
    // four known samples: 0, 100, 128, 200
    val wav = Codec.encodeWav(Array[Short](0, 100, 128, 200), 8000, channels = 1)
    val df = Seq((7L, wav), (8L, Codec.encodeWav(Array.empty[Short], 8000)))
      .toDF("doc_id", "payload")
    val out = Multimodal.audioFeatures(df, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r7 = out(7L)
    assert(r7.getInt(1) == 8000 && r7.getLong(2) == 4L)
    assert(r7.getDouble(3) == (0 + 100 + 128 + 200) / 4.0)
    assert(r7.getDouble(4) ==
      math.sqrt((100.0 * 100 + 128.0 * 128 + 200.0 * 200) / 4.0))
    assert(r7.getDouble(5) == 0.5) // 128 and 200 are at/above half scale
    val r8 = out(8L)
    assert(r8.getLong(2) == 0L && r8.getDouble(4) == 0.0)
  }

  test("decodeMedia dispatches by magic bytes and reports unsupported honestly") {
    import Multimodal.Codec
    val rows = Seq(
      (1L, Codec.encodeBmp(Array.tabulate(96)(_.toByte), 4)),
      (2L, Codec.encodeWav(Array.tabulate[Short](400)(i => (i * 11).toShort), 4000, 2)),
      (3L, "plain text payload, no codec".getBytes("UTF-8")))
    val df = rows.toDF("doc_id", "payload")
    val out = Multimodal.decodeMedia(df, "doc_id", "payload")
      .collect().map(f => f.doc_id -> f).toMap
    assert(out(1L).format == "bmp" && out(1L).width == 4 && out(1L).height == 8
      && out(1L).channels == 3)
    assert(out(2L).format == "wav" && out(2L).sample_rate == 4000
      && out(2L).channels == 2 && math.abs(out(2L).duration_s - 0.05) < 1e-9)
    assert(out(3L).format == "unsupported" && out(3L).n_bytes == rows(2)._2.length)
  }

  test("as-of join: forward direction and tolerance (merge_asof semantics)") {
    val l = Seq((1L, 10L, 100L), (1L, 25L, 101L), (1L, 99L, 102L))
      .toDF("k", "t", "lid")
    val r = Seq((1L, 5L, 200L, 1.0), (1L, 10L, 201L, 2.0),
      (1L, 20L, 202L, 3.0), (1L, 30L, 203L, 4.0))
      .toDF("k", "t", "rid", "v")
    def run(strict: Boolean, dir: String, tol: Option[Long]) =
      AsOf.join(l, r, "k", "t", "t", Seq("v"), "rid",
          strict = strict, direction = dir,
          tolerance = tol.map(x => lit(x)))
        .orderBy("lid").collect()
        .map(row => if (row.isNullAt(3)) None else Some(row.getDouble(3)))
        .toSeq
    // forward strict: t=10 -> r@20 (3.0); t=25 -> r@30 (4.0); t=99 -> none
    assert(run(strict = true, "forward", None) == Seq(Some(3.0), Some(4.0), None))
    // forward non-strict: t=10 sees the same-instant r@10 (2.0)
    assert(run(strict = false, "forward", None) == Seq(Some(2.0), Some(4.0), None))
    // backward with tolerance 3: t=10 matches r@10? strict -> r@5 at dist 5 > 3 -> null;
    // t=25 -> r@20 at dist 5 > 3 -> null; t=99 -> r@30 dist 69 -> null
    assert(run(strict = true, "backward", Some(3L)) == Seq(None, None, None))
    // backward tolerance 5 admits both
    assert(run(strict = true, "backward", Some(5L)) == Seq(Some(1.0), Some(3.0), None))
    // forward tolerance 5: t=25 -> r@30 dist 5 ok; t=10 -> r@20 dist 10 -> null
    assert(run(strict = true, "forward", Some(5L)) == Seq(None, Some(4.0), None))
  }

  test("as-of nearestJoin: direction choice, backward tie-break, tolerance") {
    val l = Seq((1L, 10L, 100L), (1L, 25L, 101L), (1L, 99L, 102L))
      .toDF("k", "t", "lid")
    val r = Seq((1L, 5L, 200L, 1.0), (1L, 10L, 201L, 2.0),
      (1L, 20L, 202L, 3.0), (1L, 30L, 203L, 4.0))
      .toDF("k", "t", "rid", "v")
    def run(strict: Boolean, tol: Option[Long]) =
      AsOf.nearestJoin(l, r, "k", "t", "t", Seq("v"), "rid",
          strict = strict, tolerance = tol.map(x => lit(x)))
        .orderBy("lid").collect()
        .map(row => if (row.isNullAt(3)) None else Some(row.getDouble(3)))
        .toSeq
    // t=10 strict: back r@5 (d5) vs fwd r@20 (d10) -> backward 1.0
    // t=25: back r@20 (d5) vs fwd r@30 (d5) -> TIE -> backward 3.0
    // t=99: back r@30 (d69), no fwd -> 4.0
    assert(run(strict = true, None) == Seq(Some(1.0), Some(3.0), Some(4.0)))
    // non-strict: t=10 sees same-instant r@10 at distance 0 -> 2.0
    assert(run(strict = false, None) == Seq(Some(2.0), Some(3.0), Some(4.0)))
    // tolerance 5 keeps the d<=5 matches, nulls t=99's d=69 match
    assert(run(strict = true, Some(5L)) == Seq(Some(1.0), Some(3.0), None))
    // tolerance 3 nulls everything (all distances exceed 3)
    assert(run(strict = true, Some(3L)) == Seq(None, None, None))
  }

  test("redact scrubs emails, urls, ips and phone spans in rule order") {
    val df = Seq(
      "write bob.smith+x@corp.example.org or see https://a.b/c?d=1 now",
      "ping 192.168.0.255 then call +1(415)555-0199 bye",
      "no pii here at all").toDF("t")
    val got = df.select(TextAnalysis.redact(col("t"))).collect().map(_.getString(0))
    assert(got(0) == "write <EMAIL> or see <URL> now")
    assert(got(1) == "ping <IP> then call <PHONE> bye")
    assert(got(2) == "no pii here at all")
  }

  test("deterministicSplit: stable, exhaustive, and id-stable under corpus growth") {
    val ids = (0L until 2000L).toDF("id")
    val split = Sampling.deterministicSplit(ids, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000)
    // proportions near the fractions (md5 is uniform; 2000 draws)
    assert(math.abs(counts("train") - 1600.0) < 120)
    assert(counts.keySet == Set("train", "val", "test"))
    // growing the corpus must never move an existing id's split
    val first = Sampling.deterministicSplit((0L until 500L).toDF("id"), "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val grown = split.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    first.foreach { case (id, s) => assert(grown(id) == s) }
  }

  test("hashSample keeps a deterministic subset of about the right size") {
    val ids = (0L until 2000L).toDF("id")
    val a = Sampling.hashSample(ids, "id", 0.25).collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(ids, "id", 0.25).collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(math.abs(a.size - 500.0) < 80)
    // nested fractions: a 10% sample is a subset of the 25% sample
    val c = Sampling.hashSample(ids, "id", 0.10).collect().map(_.getLong(0)).toSet
    assert(c.subsetOf(a))
  }

  test("weightedMix repeats whole epochs and hash-samples the remainder") {
    val a = (0L until 1000L).toDF("id")
    val b = (1000L until 1400L).toDF("id")
    val mixed = Sampling.weightedMix(Seq(a -> 2.5, b -> 0.5), "id")
    val byEpoch = mixed.filter(col("id") < 1000)
      .groupBy("mix_epoch").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byEpoch(0) == 1000 && byEpoch(1) == 1000) // two full repeats
    assert(math.abs(byEpoch(2) - 500.0) < 80)        // ~half as epoch 2
    val bKept = mixed.filter(col("id") >= 1000).count()
    assert(math.abs(bKept - 200.0) < 60)             // b down-weighted to ~half
    // deterministic across evaluations
    assert(mixed.count() == Sampling.weightedMix(Seq(a -> 2.5, b -> 0.5), "id").count())
  }

  test("Cdc.upsert: latest version wins, inserts land, older updates lose") {
    val base = Seq((1L, "a", 0L), (2L, "b", 5L), (3L, "c", 5L))
      .toDF("k", "v", "ver")
    val delta = Seq((2L, "b2", 6L),  // newer: wins
                    (3L, "c0", 4L),  // older than base: loses
                    (9L, "new", 1L)) // unseen key: insert
      .toDF("k", "v", "ver")
    val got = Cdc.upsert(base, delta, Seq("k"), "ver")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c", 9L -> "new"))
  }

  test("Cdc.upsertWithDeletes: tombstones remove keys unless out-versioned") {
    val base = Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 5L))
      .toDF("k", "v", "ver")
    val delta = Seq((2L, "x", 3L, true),  // tombstone: 2 goes away
                    (3L, "x", 4L, true))  // older tombstone: 3 survives
      .toDF("k", "v", "ver", "del")
    val got = Cdc.upsertWithDeletes(base, delta, Seq("k"), "ver", "del")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 3L -> "c"))
    assert(!got.contains(2L))
  }

  test("Pq: seeds encode to themselves, codes stay in range, ADC ranks k rows per probe") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Pq.seededCodebook(emb, "vec_id", "embedding", dim = 64, m = 4, k = 16)
    assert(cb.count() == 4 * 16)
    val codes = Pq.encode(emb, cb, "vec_id", "embedding", dim = 64, m = 4)
    // a seed subvector is at distance 0 from its own centroid
    val selfCodes = codes.filter(col("vec_id") < 16)
      .filter(col("code") =!= col("vec_id")).count()
    assert(selfCodes == 0, "seed vectors must encode to their own centroids")
    val rng = codes.filter(col("code") < 0 || col("code") >= 16).count()
    assert(rng == 0)
    val top = Pq.adcTopK(codes, cb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", dim = 64, m = 4, k = 10)
    val perProbe = top.groupBy("probe_id").count()
      .collect().map(_.getLong(1)).toSet
    assert(perProbe == Set(10L))
    // self never appears among a probe's neighbors
    assert(top.filter(col("probe_id") === col("vec_id")).count() == 0)
  }

  test("Pq IVF x PQ at nprobe = nlist reproduces full ADC exactly; results honor probe cells") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Pq.seededCodebook(emb, "vec_id", "embedding", dim = 64, m = 4, k = 16)
    val codes = Pq.encode(emb, cb, "vec_id", "embedding", dim = 64, m = 4)
    val coarse = Pq.seededCoarseCentroids(emb, "vec_id", "embedding", nlist = 8)
    val cells = Pq.nearestCells(emb, coarse, "vec_id", "embedding", take = 1)
    val probes = emb.filter(col("vec_id") < 3)
    // full probe == exhaustive ADC, bit for bit
    val full = Pq.ivfpqTopK(codes, cb, cells, coarse, probes,
        "vec_id", "embedding", dim = 64, m = 4, nprobe = 8, k = 10)
      .collect().map(_.toSeq).toSet
    val adc = Pq.adcTopK(codes, cb, probes, "vec_id", "embedding",
        dim = 64, m = 4, k = 10)
      .collect().map(_.toSeq).toSet
    assert(full == adc, "nprobe=nlist IVFxPQ must equal exhaustive ADC")
    // restricted probe: every neighbor's cell is one of the probe's cells
    val restricted = Pq.ivfpqTopK(codes, cb, cells, coarse, probes,
      "vec_id", "embedding", dim = 64, m = 4, nprobe = 2, k = 10)
    val cellOf = cells.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val probeCells = Pq.nearestCells(probes, coarse, "vec_id", "embedding", take = 2)
      .collect().groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    restricted.collect().foreach { r =>
      val (p, v) = (r.getLong(0), r.getLong(2))
      assert(probeCells(p).contains(cellOf(v)),
        s"neighbor $v of probe $p lives outside the probed cells")
    }
  }

  test("Pq.refineCodebook: Lloyd refinement strictly reduces distortion, recall holds") {
    // The assertable Lloyd invariant is DISTORTION (the k-means
    // objective): refined < seeded, monotone over iterations. Recall@k is
    // NOT assertable as refined >= seeded on this corpus — the synthetic
    // embeddings have no planted neighbor structure (max NN cosine 0.51
    // at both sf0.001 and sf0.01), so at m=4/k=16 coarseness recall is
    // quantization-noise-dominated (measured: seeded 0.275, refined
    // 0.255-0.27 over 20 probes — all within noise). We guard against a
    // genuine recall collapse instead.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val k = 10
    val nProbes = 20
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val truth = (0L until nProbes.toLong).map { p =>
      p -> vecs.keysIterator.filter(_ != p).toSeq
        .sortBy(c => (d2(vecs(p), vecs(c)), c)).take(k).toSet
    }.toMap
    def statsOf(cb: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val codes = Pq.encode(emb, cb, "vec_id", "embedding", dim = 64, m = 4)
      val cbm = cb.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2).toArray).toMap
      val distortion = codes.collect().map { r =>
        val sv = vecs(r.getLong(0)).slice(r.getInt(1) * 16, r.getInt(1) * 16 + 16)
        d2(sv, cbm((r.getInt(1), r.getLong(2))))
      }.sum
      val got = Pq.adcTopK(codes, cb, emb.filter(col("vec_id") < nProbes),
          "vec_id", "embedding", dim = 64, m = 4, k = k)
        .collect().groupBy(_.getLong(0))
        .map { case (p, rs) => p -> rs.map(_.getLong(2)).toSet }
      val recall = truth.map { case (p, t) => (got(p) & t).size.toDouble / k }
        .sum / truth.size
      (distortion, recall)
    }
    val (d0, r0) = statsOf(Pq.seededCodebook(emb, "vec_id", "embedding",
      dim = 64, m = 4, k = 16))
    val (d1, r1) = statsOf(Pq.refineCodebook(emb, "vec_id", "embedding",
      dim = 64, m = 4, k = 16, iters = 1))
    val (d2_, r2) = statsOf(Pq.refineCodebook(emb, "vec_id", "embedding",
      dim = 64, m = 4, k = 16, iters = 2))
    assert(d1 < d0, s"one Lloyd pass must cut distortion: $d1 !< $d0")
    assert(d2_ <= d1, s"distortion must be monotone over iterations: $d2_ !<= $d1")
    assert(d2_ < d0 * 0.8, s"refined distortion $d2_ not meaningfully below seeded $d0")
    assert(r1 >= r0 - 0.1 && r2 >= r0 - 0.1,
      s"refinement collapsed recall: seeded $r0, refined $r1 / $r2")
  }

  test("Pq seeded quantizers fail loudly on non-contiguous ids") {
    import spark.implicits._
    val gappy = Seq((0L, Array.fill(8)(0.1)), (2L, Array.fill(8)(0.2)),
        (5L, Array.fill(8)(0.3)), (7L, Array.fill(8)(0.4)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Pq.seededCodebook(gappy, "vec_id", "embedding", dim = 8, m = 2, k = 4)
    }
    assert(e.getMessage.contains("contiguous"))
    val e2 = intercept[IllegalArgumentException] {
      Pq.seededCoarseCentroids(gappy, "vec_id", "embedding", nlist = 4)
    }
    assert(e2.getMessage.contains("contiguous"))
  }

  test("imagePHash: identical payloads hash equal, garbage hashes to 0") {
    val m = Multimodal
    val txt = "the quick brown fox jumps over the lazy dog and more text to fill rows"
    val df = Seq((1L, txt), (2L, txt),
        (3L, "completely different content with other letters entirely here now"))
      .toDF("id", "t")
    val fp = m.imagePHash(m.withBmpPayload(df, "id", "t"), "id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L), "same image must hash identically")
    val garbage = Seq((9L, Array[Byte](1, 2, 3))).toDF("id", "payload")
    assert(m.imagePHash(garbage, "id", "payload").collect()(0).getLong(1) == 0L)
  }

  test("tokenBudget keeps the id-ordered prefix per group, crossing doc included") {
    val df = Seq((1L, "a", 4L), (2L, "a", 4L), (3L, "a", 4L), (4L, "b", 10L))
      .toDF("id", "src", "tok")
    val kept = Sampling.tokenBudget(df, "src", "id", col("tok"), budget = 6)
      .select("id").collect().map(_.getLong(0)).toSet
    // src a: offsets 0,4,8 -> ids 1 and 2 start under the budget (2
    // straddles the line and is kept), 3 starts past it; src b keeps its
    // first doc even though it alone exceeds the budget
    assert(kept == Set(1L, 2L, 4L))
  }

  test("Cdc.upsert resolves duplicate (key, version) rows independently of partitioning") {
    val base = Seq((1L, "a", 0L)).toDF("k", "v", "ver")
    val dup = Seq((1L, "x", 5L), (1L, "y", 5L)).toDF("k", "v", "ver")
    val winners = Seq(
      dup.coalesce(1),
      dup.repartition(7),
      dup.repartition(3).sortWithinPartitions(org.apache.spark.sql.functions.desc("v")))
      .map(d => Cdc.upsert(base, d, Seq("k"), "ver").collect()(0).getString(1))
    assert(winners.distinct.size == 1,
      s"tied-version winner depends on partitioning: $winners")
  }

  test("editDistancePairs rejects non-numeric id columns loudly") {
    val df = Seq(("a", "some text one"), ("b", "some text two")).toDF("sid", "t")
    val e = intercept[IllegalArgumentException] {
      Dedup.editDistancePairs(df, "sid", "t")
    }
    assert(e.getMessage.contains("numeric"))
  }

  test("Cdc.upsert is idempotent: re-applying the same delta changes nothing") {
    val base = Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L)).toDF("k", "v", "ver")
    val delta = Seq((2L, "b2", 1L), (9L, "new", 1L)).toDF("k", "v", "ver")
    val once = Cdc.upsert(base, delta, Seq("k"), "ver")
    val twice = Cdc.upsert(once, delta, Seq("k"), "ver")
    val a = once.collect().map(_.toSeq).toSet
    val b = twice.collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("bigramLmScore matches hand-computed add-one-smoothed fixed-point sums") {
    val fixture = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    // corpus: c2(a,b)=3, c2(b,a)=1, c2(b,c)=1; c1: a=3,b=3,c=1,x=1; V=4
    def fp(c2: Long, c1: Long): Long =
      math.round(math.log((c2 + 1).toDouble / (c1 + 4).toDouble) * 1e6)
    val expect1 = 2 * fp(3, 3) + fp(1, 3)  // (a,b),(b,a),(a,b)
    val expect2 = fp(3, 3) + fp(1, 3)      // (a,b),(b,c): c1(b)=3
    val got = TextAnalysis.bigramLmScore(fixture, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((3L, expect1)))
    assert(got(2L) == ((2L, expect2)))
    assert(got(3L) == ((0L, 0L)), "single-token doc: no bigrams, score 0")
    assert(got(4L) == ((0L, 0L)), "null doc stays represented at 0")
  }

  test("bitsPerByte (t33): exact fixed-point rollup, ln-2 literal " +
      "chain, zero-byte group yields NULL bpb") {
    val fixture = Seq(
      (1L, "a b a b", "s1"), (2L, "a b a b", "s1"),
      (3L, "a b c", "s2"),
      (4L, null.asInstanceOf[String], "s0"), (5L, "", "s0"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.bitsPerByte(fixture, "doc_id", "text", "source")
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(4), Option(r.get(5)))).toSeq
    // s0: two empty docs -> 0 bigrams, 0 bytes -> NULL bpb (guarded)
    assert(got.map(t => (t._1, t._2, t._3, t._4)) ==
      Seq(("s0", 2L, 0L, 0L), ("s1", 2L, 6L, 14L), ("s2", 1L, 2L, 5L)))
    assert(got.head._5.isEmpty, "zero-byte group must yield NULL bpb")
    // s1's bpb re-derived by hand through the SAME double chain
    val negFp = -TextAnalysis.knBigramScore(fixture, "doc_id", "text")
      .filter(col("doc_id") <= 2).agg(sum(col("kn_score_fp")))
      .collect().head.getLong(0)
    val want = BigDecimal(negFp.toDouble / 1e6 / TextAnalysis.Ln2 / 14.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1)._5.contains(want))
  }

  test("temperatureSample keeps the smallest source whole, others at (nmin/n)^0.5") {
    val small = (0L until 100L).map(i => (i, "s")).toDF("id", "src")
    val large = (100L until 500L).map(i => (i, "l")).toDF("id", "src")
    val df = small.unionByName(large)
    val kept = Sampling.temperatureSample(df, "id", "src")
    val bySrc = kept.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("s") == 100L, "smallest source must be kept whole")
    assert(math.abs(bySrc("l") - 200.0) < 60, "large source kept at ~sqrt(100/400)=0.5")
    // the large-source gate IS the 0.5 hash sample (same threshold rule)
    val viaHash = Sampling.hashSample(large, "id", 0.5)
      .collect().map(_.getLong(0)).toSet
    val gotLarge = kept.filter(col("src") === "l")
      .collect().map(_.getLong(0)).toSet
    assert(gotLarge == viaHash)
  }

  test("temperatureSample scales to thousands of sources (broadcast join, no when-chain)") {
    // 5000 sources x 3 rows + one 1-row source (n_min = 1). The old
    // formulation folded a per-source when-chain — a 5001-deep expression
    // tree; the broadcast-join form must both PLAN (one broadcast hash
    // join) and pick per-source thresholds identical to the driver-side
    // math: floor(sqrt(1/3) * 65536) = 37837.
    val many = (0 until 5000).flatMap { s =>
      (0 until 3).map(i => (s.toLong * 10 + i, s"src_$s"))
    } :+ (99999L, "tiny")
    val df = many.toDF("id", "src")
    val kept = Sampling.temperatureSample(df, "id", "src")
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "thresholds must arrive via a broadcast join")
    val bySrc = kept.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.getOrElse("tiny", 0L) == 1L, "smallest source kept whole")
    // every kept row's hash bucket is below the shared 3-row threshold
    val thr = f"${math.floor(math.sqrt(1.0 / 3.0) * 65536).toLong}%04x"
    val offenders = kept.filter(col("src") =!= "tiny")
      .filter(substring(md5(col("id").cast("string")), 1, 4) >= thr)
    assert(offenders.count() == 0L)
    // and no row ABOVE-threshold row was dropped incorrectly: recompute
    // the expected kept set driver-side for a sample of sources
    val expected = many.filter { case (id, src) =>
      src == "tiny" || md5Hex4(id.toString) < thr
    }.map(_._1).toSet
    val got = kept.collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  private def md5Hex4(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.take(2).map(b => f"${b & 0xff}%02x").mkString
  }

  test("streamingHourlyClosed (append) emits exactly the watermark-closed windows") {
    val dir = "target/tmp/st04spec_in"
    val h = 3600L * 1000000L // one hour of microseconds
    // NOTE: a plain-LONG ts column takes Events' nanos fallback path
    // (readStream does ts div 1000), so this synthetic fixture is nanos
    val rows = Seq(
      (1L, 0L * h, "click", 1.0), (2L, 0L * h + h / 2, "click", 2.0),
      (3L, 1L * h, "view", 3.0), (4L, 2L * h, "click", 4.0),
      (5L, 3L * h, "view", 5.0)) // max ts = 3h -> watermark 2h30
      .map { case (id, us, t, v) => (id, us * 1000L, id, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // Events.readStream expects $dir/events.parquet to be a single FILE
    // (the corpus layout) — promote the lone part file to that name
    val raw = s"$dir/raw"
    rows.coalesce(1).write.mode("overwrite").parquet(raw)
    val part = new java.io.File(raw).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = java.nio.file.Paths.get(dir, "events.parquet")
    java.nio.file.Files.createDirectories(dst.getParent)
    if (java.nio.file.Files.isDirectory(dst)) { // stale layout from old runs
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(del)); f.delete(); ()
      }
      del(dst.toFile)
    }
    java.nio.file.Files.copy(part.toPath, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val out = graft.streaming.Events.streamingHourlyClosed(
      graft.streaming.Events.readStream(spark, dir))
    val got = graft.streaming.Replay.runToCompletion(out, "append")
      .select(unix_micros(col("h_end")), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0) / h, r.getString(1), r.getLong(2))).toSet
    // watermark = 3h - 30min = 2h30: windows ending at 1h and 2h are
    // closed; the [2h,3h) and [3h,4h) windows are still open
    assert(got == Set((1L, "click", 2L), (2L, "view", 1L)))
  }

  test("duplicatedSpans counts cross-doc verbatim spans, not within-doc repeats") {
    val fixture = Seq(
      (1L, "a b c d e f g h i j"),             // 3 spans of 8; shares [a..h] with doc 2
      (2L, "a b c d e f g h x y"),             // 3 spans; shares [a..h] with doc 1
      (3L, "short doc"),                       // < 8 tokens: 0/0
      (4L, "p q r s t u v w p q r s t u v w")) // self-repeating, unique corpus-wide
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(fixture, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((3L, 1L)))
    assert(got(2L) == ((3L, 1L)))
    assert(got(3L) == ((0L, 0L)), "short docs report zero spans")
    assert(got(4L) == ((9L, 0L)), "within-doc repetition is not cross-doc duplication")
  }

  test("sessionFunnel: stages count only in order, sessions split on the gap") {
    def ev(id: Long, user: Long, minute: Long, typ: String) =
      (id, java.sql.Timestamp.valueOf(f"2024-01-01 10:${0}%02d:00").toInstant
        .plusSeconds(minute * 60).toEpochMilli * 1000L, user, typ)
    val rows = Seq(
      ev(1, 1, 0, "view"), ev(2, 1, 1, "click"), ev(3, 1, 2, "purchase"),
      // user 2: stages present but in REVERSE order — only view counts
      ev(4, 2, 0, "purchase"), ev(5, 2, 1, "click"), ev(6, 2, 2, "view"),
      // user 3: view, then a 40-min gap breaks the session before click
      ev(7, 3, 0, "view"), ev(8, 3, 40, "click"))
      .toDF("event_id", "us", "user_id", "event_type")
      .withColumn("ts", expr("cast(timestamp_micros(us) as timestamp_ntz)"))
    val per = graft.streaming.Events.sessionFunnel(
        rows, Seq("view", "click", "purchase"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(per((1L, 1L)) == ((1L, 1L, 1L)), "in-order session completes the funnel")
    assert(per((2L, 1L)) == ((1L, 0L, 0L)), "reverse order: later stages don't count")
    assert(per((3L, 1L)) == ((1L, 0L, 0L)), "view-only before the gap")
    assert(per((3L, 2L)) == ((0L, 0L, 0L)), "click alone in the new session")
  }

  test("perGroupQuota caps each group and keeps the deterministic prefix") {
    val rows = for (g <- Seq("a", "b"); i <- 0 until 10) yield (g, i.toLong, 100 - i)
    val df = rows.toDF("src", "id", "len")
    val out = Sampling.perGroupQuota(df, "src", "len", "id", quota = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // order by (len asc, id asc): smallest len = largest i
    assert(out == Set(("a", 9L), ("a", 8L), ("a", 7L), ("b", 9L), ("b", 8L), ("b", 7L)))
  }

  test("streamingDedupExact drops re-arrivals across micro-batch boundaries") {
    val dir = "target/tmp/sdedup_in"
    // batch 1: three docs, one internal dup
    Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa")).toDF("id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema("id LONG, text STRING").option("maxFilesPerTrigger", "1").parquet(dir)
    val q = graft.streaming.Events.streamingDedupExact(stream, "text")
      .writeStream.outputMode("append").format("memory").queryName("sdedup").start()
    q.processAllAvailable()
    // batch 2: one re-arrival of 'aaa' (cross-batch) + one new doc
    Seq((4L, "aaa"), (5L, "ccc")).toDF("id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    val kept = spark.table("sdedup").select("text").collect().map(_.getString(0)).toSeq
    assert(kept.sorted == Seq("aaa", "bbb", "ccc")) // each content once, ever
  }

  test("streamingDedupOwners (transformWithState) assigns first owner across batches") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = "target/tmp/sdedup_tws_in"
      Seq((3L, "aaa"), (1L, "aaa"), (2L, "bbb")).toDF("id", "text")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val q = graft.streaming.Events.streamingDedupOwners(
          spark.readStream.schema("id LONG, text STRING")
            .option("maxFilesPerTrigger", "1").parquet(dir), "id", "text")
        .writeStream.outputMode("append").format("memory").queryName("stws").start()
      q.processAllAvailable()
      // batch 2: cross-batch re-arrival of 'aaa' + new content
      Seq((4L, "aaa"), (5L, "ccc")).toDF("id", "text")
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable(); q.stop()
      val verdicts = spark.table("stws").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      // within batch 1, the LOWEST id (1) owns 'aaa' even though 3 sorted first in input order
      assert(verdicts(1L) == ((1L, false)))
      assert(verdicts(3L) == ((1L, true)))
      assert(verdicts(2L) == ((2L, false)))
      assert(verdicts(4L) == ((1L, true)))   // cross-batch: owner survived in state
      assert(verdicts(5L) == ((5L, false)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streamingNearDup flags cross-batch near-duplicates via shared LSH buckets") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val nearDup = base + " ok"        // high-jaccard edit of base
    val distinct1 = "completely different words about spark catalyst optimizer internals"
    val distinct2 = "yet another unrelated document mentioning parquet and arrow formats"
    val dir = "target/tmp/sneardup_in"
    Seq((1L, base), (2L, distinct1)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").option("maxFilesPerTrigger", "1").parquet(dir)
    val q = graft.streaming.Events.streamingNearDup(
        stream, "doc_id", "text", numHashes = 64, bands = 32, shingleK = 3)
      .writeStream.outputMode("update").format("memory").queryName("sneardup").start()
    q.processAllAvailable()
    // batch 2: near-copy of doc 1 (cross-batch collision) + a fresh doc
    Seq((3L, nearDup), (4L, distinct2)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    val verdicts = spark.table("sneardup")
      .select("doc_id", "is_dup", "dup_of").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    assert(verdicts(1L) == ((false, -1L)))
    assert(verdicts(2L) == ((false, -1L)))
    assert(verdicts(3L) == ((true, 1L)))  // collides with doc 1's buckets
    assert(verdicts(4L) == ((false, -1L)))
  }

  test("streamingNearDupFlags replayed as one batch equals batch banding candidates") {
    val docsIn = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "unrelated text with altogether different content entirely"))
    val dir = "target/tmp/sneardup_replay"
    docsIn.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(dir)
    val q = graft.streaming.Events.streamingNearDupFlags(
        spark.readStream.schema("doc_id LONG, text STRING").parquet(dir),
        "doc_id", "text", numHashes = 64, bands = 32, shingleK = 3)
      .writeStream.outputMode("append").format("memory").queryName("sflags").start()
    q.processAllAvailable(); q.stop()
    val streamedPairs = spark.table("sflags")
      .filter(col("dup_of") =!= col("doc_id"))
      .select(col("dup_of").as("id_a"), col("doc_id").as("id_b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = Dedup.minhashCandidates(
        docsIn.toDF("doc_id", "text"), "doc_id", "text",
        numHashes = 64, bands = 32, shingleK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedPairs == batchPairs)
  }

  test("Events.readStream replays the single-file corpus through a symlink dir") {
    // the corpus is one read-only parquet FILE; the file stream source
    // needs a directory — readStream must bridge that and the
    // AvailableNow replay must agree with the batch sessionize exactly
    // (the st01 driver-query contract)
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.Replay.runToCompletion(
        graft.streaming.Events.streamingSessionize(
          graft.streaming.Events.readStream(spark, dir), 30), "append")
      .select("event_id", "session_seq").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.streaming.Events.sessionize(
        graft.streaming.Events.read(spark, dir), 30)
      .select("event_id", "session_seq").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("streamingSessionize (flatMapGroupsWithState) agrees with batch sessionize") {
    val ev = graft.streaming.Events.read(spark, "/root/testdata/sf0.001")
    val stage = "target/tmp/sess_stream_in"
    ev.write.mode("overwrite").parquet(stage)
    val q = graft.streaming.Events.streamingSessionize(
        spark.readStream.schema(ev.schema).parquet(stage), 30)
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sess")
      .select("event_id", "session_seq").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.streaming.Events.sessionize(ev, 30)
      .select("event_id", "session_seq").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.size == batch.size)
    assert(streamed == batch)
  }

  test("streamingSessionizeTws agrees with batch and clears state after the gap") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val dir = "target/tmp/sess_tws_in"
      def ev(rows: Seq[(Long, Long, String)]) = rows
        .toDF("event_id", "user_id", "s")
        .withColumn("ts", col("s").cast("timestamp")).drop("s")
      // batch 1: two sessions for user 10 (65-min gap)
      ev(Seq((1L, 10L, "2024-01-01 00:00:00"), (2L, 10L, "2024-01-01 00:10:00"),
          (3L, 10L, "2024-01-01 01:15:00")))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val q = graft.streaming.Events.streamingSessionizeTws(
          spark.readStream.schema("event_id LONG, user_id LONG, ts TIMESTAMP")
            .option("maxFilesPerTrigger", "1").parquet(dir),
          gapMinutes = 30, watermark = "0 seconds")
        .writeStream.outputMode("append").format("memory").queryName("sesstws").start()
      q.processAllAvailable()
      // batch 2: far-future event advances the watermark way past user
      // 10's horizon; its own session for user 11
      ev(Seq((4L, 11L, "2024-01-02 00:00:00")))
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      // batch 3: user 10 returns AFTER state reclamation -> seq restarts at 1
      ev(Seq((5L, 10L, "2024-01-02 00:05:00")))
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable(); q.stop()
      val got = spark.table("sesstws")
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(got(1L) == 1L && got(2L) == 1L) // same session
      assert(got(3L) == 2L)                  // gap -> second session
      assert(got(4L) == 1L)                  // other user independent
      assert(got(5L) == 1L, "state must have been reclaimed -> numbering restarts")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("sessionize: seq starts at 1 and increments only on gaps") {
    val ev = Seq(
      (1L, 10L, "2024-01-01 00:00:00"),
      (2L, 10L, "2024-01-01 00:10:00"),
      (3L, 10L, "2024-01-01 01:10:00"), // > 30 min gap -> new session
      (4L, 11L, "2024-01-01 00:00:00"))
      .toDF("event_id", "user_id", "s")
      .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    val out = graft.streaming.Events.sessionize(ev, 30)
      .select("event_id", "session_seq").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("binInterpolate: straight line through gaps, clamped ends") {
    // key 1: observations at bins 0 (100) and 4 (500) -> 200/300/400 in
    // the gap; key 2: single observation -> no gap rows, value itself
    val ev = Seq(
      (1L, 0L, 100L), (1L, 4L * 900000000L, 500L),
      (2L, 900000000L, 77L))
      .toDF("k", "ts", "cents")
    val out = graft.ops.Resample.binInterpolate(ev, "k", "ts", "cents",
        binWidth = 900000000L)
      .select("k", "bin", "cents_li").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out == Map(
      (1L, 0L) -> 100.0, (1L, 1L) -> 200.0, (1L, 2L) -> 300.0,
      (1L, 3L) -> 400.0, (1L, 4L) -> 500.0, (2L, 1L) -> 77.0))
  }

  test("binInterpolate: leading/trailing gaps clamp to nearest observation") {
    // observations at bins 1 and 3 of a 0..4 grid exist only if binned
    // rows span them — leading/trailing bins only appear inside the
    // observed [lo, hi] span, so plant empty bins via multiple keys'
    // values: bins 1 (200) and 2 (400) with a gap at neither end means
    // clamping is exercised by an interior-only span; assert the exact
    // grid and that no bins outside [lo, hi] are invented
    val ev = Seq((9L, 1L * 900000000L, 200L), (9L, 3L * 900000000L, 400L))
      .toDF("k", "ts", "cents")
    val out = graft.ops.Resample.binInterpolate(ev, "k", "ts", "cents",
        binWidth = 900000000L)
      .select("bin", "cents_li").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 200.0, 2L -> 300.0, 3L -> 400.0))
  }

  test("streamingFunnel advances stages strictly-after across micro-batches") {
    val dir = "target/tmp/sfunnel_in"
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // batch 1: user 1 views at t0 and clicks at the SAME instant (tie
    // must NOT advance) then clicks at t1; user 2 clicks before any view
    Seq((1L, 10L, ts(0), "view"), (2L, 10L, ts(0), "click"),
      (3L, 10L, ts(1), "click"), (4L, 20L, ts(0), "click"))
      .toDF("event_id", "user_id", "t", "event_type")
      .withColumn("ts", col("t").cast("timestamp_ntz")).drop("t")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP_NTZ")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = graft.streaming.Events.streamingFunnel(
        stream, Seq("view", "click", "purchase"))
      .writeStream.outputMode("append").format("memory").queryName("sfunnel")
      .start()
    q.processAllAvailable()
    // batch 2: user 1 purchases (stage 3, cross-batch state); user 2
    // finally views — but their old click cannot retroactively count
    Seq((5L, 10L, ts(2), "purchase"), (6L, 20L, ts(3), "view"))
      .toDF("event_id", "user_id", "t", "event_type")
      .withColumn("ts", col("t").cast("timestamp_ntz")).drop("t")
      .coalesce(1).write.mode("append").parquet(dir)
    q.processAllAvailable(); q.stop()
    // last verdict per user wins (Append emits one row per user per batch)
    val last = spark.table("sfunnel")
      .groupBy("user_id")
      .agg(max(struct(col("reached_1") + col("reached_2") + col("reached_3"),
        col("reached_1"), col("reached_2"), col("reached_3"))).as("m"))
      .select(col("user_id"), col("m.reached_1"), col("m.reached_2"),
        col("m.reached_3"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(last(10L) == ((1L, 1L, 1L)), "view -> later click -> later purchase")
    assert(last(20L) == ((1L, 0L, 0L)), "click before first view never counts")
  }

  test("io13 parquet write carries a bloom filter for doc_id") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("bloomchk").toString
    spark.range(1000).toDF("doc_id")
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#doc_id", "true")
      .option("parquet.bloom.filter.expected.ndv#doc_id", "1000000")
      .parquet(tmp)
    val file = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file.toURI), spark.sparkContext.hadoopConfiguration))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val cm = rg.getColumns.asScala
        .find(_.getPath.toDotString == "doc_id").get
      assert(cm.getBloomFilterOffset > 0, "no bloom filter in the footer")
      val bf = reader.getBloomFilterDataReader(rg).readBloomFilter(cm)
      assert(bf != null, "bloom filter unreadable")
    } finally reader.close()
  }

  test("t28 linearQualityScore: known-feature scoring and loud model " +
      "contract refusals") {
    import spark.implicits._
    val docs = Seq((1L, "aa bb aa"), (2L, ""), (3L, "cc")).toDF("id", "t")
    // full 16-bucket domain (width-1 hex), weight = 1e6 per bucket, so
    // z = sum(1e6)/ (n*1e6) = 1.0 for every tokenful doc — σ(1) ≈ .731059
    val w16 = spark.range(16)
      .select(format_string("%x", col("id")).as("b"),
        lit(1000000L).as("w_fp"))
    val out = TextAnalysis.linearQualityScore(docs, "id", "t", w16, 16)
      .orderBy(col("id")).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 0L, 1L))
    assert(out(0).getDouble(2) == 1.0 && out(0).getDouble(3) == 0.731059)
    assert(out(1).isNullAt(2) && out(1).isNullAt(3)) // token-less doc
    // missing bucket, wrong width, bad domain size — all refuse loudly
    val short = w16.limit(15)
    assert(intercept[IllegalArgumentException](
      TextAnalysis.linearQualityScore(docs, "id", "t", short, 16))
      .getMessage.contains("cover the 16-bucket domain"))
    val wide = spark.range(16)
      .select(format_string("%02x", col("id")).as("b"), lit(0L).as("w_fp"))
    assert(intercept[IllegalArgumentException](
      TextAnalysis.linearQualityScore(docs, "id", "t", wide, 16))
      .getMessage.contains("cover the 16-bucket domain"))
    assert(intercept[IllegalArgumentException](
      TextAnalysis.linearQualityScore(docs, "id", "t", w16, 100))
      .getMessage.contains("hex-prefix domain"))
  }

  test("t28 gate composes: threshold filter yields the survivor set") {
    import spark.implicits._
    val docs = Seq((1L, "x x x"), (2L, "y")).toDF("id", "t")
    // +1 for bucket of x, -1 for all others -> doc 1 scores sigma(1) > .5,
    // doc 2 sigma(-1) < .5
    val xb = spark.sql("SELECT substring(md5('x'), 1, 1) AS xb")
      .collect().head.getString(0)
    val w = spark.range(16).select(format_string("%x", col("id")).as("b"))
      .select(col("b"), when(col("b") === xb, 1000000L)
        .otherwise(-1000000L).as("w_fp"))
    val kept = TextAnalysis.linearQualityScore(docs, "id", "t", w, 16)
      .filter(col("quality6") >= 0.5).select(col("id"))
      .collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(1L))
  }

  test("t29 unigramLmTrain: hard-EM training on a known corpus, " +
      "segmentation round-trip, loud bounds") {
    import spark.implicits._
    val docs = Seq("the cat sat on the mat", "the cats sat",
      "a mat on a cat").toDF("text")
    val pieces = TextAnalysis.unigramLmTrain(docs, "text", budget = 8,
      rounds = 2)
    val got = pieces.orderBy(col("piece")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // values cross-checked against the DuckDB K-unrolled oracle on the
    // identical corpus (the t29 discipline): multi-char survivors are
    // 'at' and 'cat'; unused single chars keep count 0
    assert(got.map(_._1).toSeq == Seq("a", "at", "c", "cat", "e", "h",
      "m", "n", "o", "s", "t"))
    assert(got.find(_._1 == "at").get._2 == 4L)
    assert(got.find(_._1 == "cat").get._2 == 3L)
    assert(got.find(_._1 == "c").get._2 == 0L)
    assert(got.find(_._1 == "at").get._3 == -2028148L)
    val segs = TextAnalysis.unigramSegment(
        Seq("cats", "mat", "tat").toDF("w"), "w", pieces)
      .orderBy(col("w")).collect()
      .map(r => r.getSeq[String](r.fieldIndex("pieces")).mkString("."))
    assert(segs.toSeq == Seq("cat.s", "m.at", "t.at"))
    // bounds refuse loudly
    assert(intercept[IllegalArgumentException](
      TextAnalysis.unigramLmTrain(docs, "text", budget = 1000))
      .getMessage.contains("budget"))
    assert(intercept[IllegalArgumentException](
      TextAnalysis.unigramSegment(Seq("unsegmentablylong").toDF("w"), "w",
        pieces)).getMessage.contains("maxWordLen"))
  }

  test("t31 wordPieceTrain: likelihood argmax on a hand-computed corpus; " +
      "greedy longest-match segmentation with [UNK]") {
    import spark.implicits._
    // words: aa (×2) → [a, ##a]; ab (×1) → [a, ##b]
    // round 1: sym counts a=3, ##a=2, ##b=1; pairs (a,##a)=2, (a,##b)=1;
    //   scores 2/(3·2) = 1/(3·1) = 1/3 EXACTLY (IEEE: same real, same
    //   rounding) — the (l, r) tie-break must pick (a, ##a) → 'aa'
    // round 2: syms aa=2, a=1, ##b=1; only pair (a,##b)=1, score 1 → 'ab'
    val docs = Seq("aa aa ab").toDF("text")
    val merges = TextAnalysis.wordPieceTrain(docs, "text", 2)
    val got = merges.orderBy(col("rank")).collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(got.toSeq == Seq(
      (0, "a", "##a", 2L, 3L, 2L, 333333333L),
      (1, "a", "##b", 1L, 1L, 1L, 1000000000L)))
    // induced vocabulary = alphabet ∪ products
    val vocab = TextAnalysis.wordPieceVocab(docs, "text", merges)
    assert(vocab.collect().map(_.getString(0)).toSet ==
      Set("a", "##a", "##b", "aa", "ab"))
    // greedy longest-match: 'aab' takes 'aa' (len 2 beats 'a'), then
    // '##b'; 'b' is never word-initial in the corpus → whole-word [UNK]
    val segs = TextAnalysis.wordPieceSegment(
        Seq("aab", "aaaa", "ba").toDF("w"), "w", vocab)
      .orderBy(col("w")).collect()
      .map(r => r.getSeq[String](r.fieldIndex("pieces")).mkString(" "))
    assert(segs.toSeq == Seq("aa ##a ##a", "aa ##b", "[UNK]"))
    // bounds refuse loudly
    assert(intercept[IllegalArgumentException](
      TextAnalysis.wordPieceSegment(Seq("x").toDF("w"), "w",
        Seq.fill(513)("p").zipWithIndex.map(p => p._1 + p._2)
          .toDF("piece"))).getMessage.contains("512"))
    assert(intercept[IllegalArgumentException](
      TextAnalysis.wordPieceSegment(Seq("x").toDF("w"), "w",
        Seq("bad piece!").toDF("piece"))).getMessage.contains("##"))
    // over-budget rounds drain cleanly: only 2 merges are learnable
    // from this corpus; rounds 3..10 must no-op (no re-aggregation, no
    // re-checkpoint — review-caught) and the output stays the 2 merges
    val over = TextAnalysis.wordPieceTrain(docs, "text", 10)
    assert(over.count() == 2)
  }

  test("d25 winnowing: density and shared-run detection guarantees") {
    import spark.implicits._
    val run = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon zeta"),
      (2L, s"one two three four five $run six seven"),
      (3L, "completely unrelated content with nothing in common here"))
      .toDF("id", "t")
    val fp = Dedup.winnowingFingerprints(docs, "id", "t", k = 3, w = 4,
      maxDocFreq = None)
    val byDoc = fp.collect().groupBy(_.getLong(0))
    // density: consecutive selected positions within a doc are at most
    // w apart (every window of w grams selects one)
    byDoc.values.foreach { rows =>
      val ps = rows.map(_.getLong(2)).sorted
      ps.zip(ps.tail).foreach { case (a, b) => assert(b - a <= 4) }
    }
    // detection: docs 1 and 2 share a 10-token run >= w + k - 1 = 6
    // tokens, so they MUST share at least one fingerprint hash
    val h1 = byDoc(1L).map(_.getLong(1)).toSet
    val h2 = byDoc(2L).map(_.getLong(1)).toSet
    assert((h1 & h2).nonEmpty)
    assert((h1 & byDoc(3L).map(_.getLong(1)).toSet).isEmpty)
    // packed-long key: h rides the top 39 bits (non-negative, < 2^39)
    // and the rightmost-tie rule survives the packing — a doc whose
    // grams repeat ("a b" * n gives two alternating gram hashes) must
    // fingerprint the min-hash gram at its LAST in-window occurrence,
    // never the first
    assert(fp.collect().forall { r =>
      val h = r.getLong(1); h >= 0L && h < (1L << 39)
    })
    // grams of "a b a b a b a b" (k=3) alternate two hashes hA ("a b a",
    // positions 1/3/5) and hB ("b a b", 2/4/6); with w=4, rightmost-tie
    // min selection yields EXACTLY {(hA,1),(hA,3),(hA,5)} when hA < hB
    // (pos 1 only via the leading truncated windows) and
    // {(hA,1),(hB,2),(hB,4),(hB,6)} otherwise — a leftmost tie rule or
    // a broken packing would produce a different set
    val rep = Seq((9L, "a b a b a b a b")).toDF("id", "t")
    val byHash = Dedup.winnowingFingerprints(rep, "id", "t", k = 3, w = 4,
      maxDocFreq = None).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val Seq(hA, hB) = Seq("a b a", "b a b").map { g =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(10), 16) % (1L << 39)
    }
    val expected = if (hA < hB) Set((hA, 1L), (hA, 3L), (hA, 5L))
      else Set((hA, 1L), (hB, 2L), (hB, 4L), (hB, 6L))
    assert(byHash === expected)
    // the df-cap drops an over-common fingerprint entirely
    val many = (1L to 9L).map(i => (i, s"shared boiler plate $i")).toDF("id", "t")
    val capped = Dedup.winnowingFingerprints(many, "id", "t", k = 3, w = 4,
      maxDocFreq = Some(8))
    val counts = capped.groupBy(col("h")).agg(countDistinct(col("id")).as("n"))
      .collect().map(_.getLong(1))
    assert(counts.forall(_ <= 8))
  }

  test("pr22 expectations: verdicts, fused row-level pass, loud refusal") {
    import spark.implicits._
    val df = Seq((1L, "a", 0.01), (1L, "b", 0.2), (2L, null, 0.03),
      (3L, "z", -0.1)).toDF("k", "s", "d")
    val out = Profile.expectations(df, Seq(
        Profile.NotNull("s"), Profile.AcceptedValues("s", Seq("a", "b")),
        Profile.Between("d", 0.0, 0.1), Profile.MatchesRegex("s", "^[ab]$"),
        Profile.Unique(Seq("k")), Profile.Unique(Seq("k", "s"))))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    def m(c: String, t: String) = out((c, t))
    assert(m("not_null", "s") == (1L, false))
    assert(m("accepted_values", "s") == (1L, false)) // 'z'
    assert(m("between", "d") == (2L, false))          // 0.2, -0.1
    assert(m("matches_regex", "s") == (1L, false))    // 'z'
    assert(m("unique", "k") == (1L, false))           // k=1 twice
    assert(m("unique", "k,s") == (0L, true))
    // all row-level checks ride ONE aggregate over ONE scan
    val plan = Profile.expectations(df, Seq(Profile.NotNull("s"),
        Profile.Between("d", 0.0, 0.1), Profile.MatchesRegex("s", "x")))
      .queryExecution.executedPlan.toString
    assert(plan.split("HashAggregate").length - 1 <= 2, // partial+final
      s"row-level checks must fuse into one aggregation:\n$plan")
    assert(intercept[IllegalArgumentException](
      Profile.expectations(df, Seq(Profile.NotNull("nope"))))
      .getMessage.contains("unknown column"))
  }
  test("t34 tokenWindows: stride/overlap, tail clamp, empty-doc drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g"),      // 7 tokens
      (2L, "x y"),                // shorter than one window
      (3L, ""),                   // empty -> no chunks
      (4L, null.asInstanceOf[String]) // NULL -> no chunks
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenWindows(docs, "doc_id", "text",
        window = 4, stride = 2)
      .orderBy("doc_id", "chunk_ix")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 0L, "a b c d", 4L),
      (1L, 1L, "c d e f", 4L),
      (1L, 2L, "e f g", 3L),   // tail clamps
      (1L, 3L, "g", 1L),       // last start < nt
      (2L, 0L, "x y", 2L)))
    // stride = window: disjoint cover, no overlap
    val disjoint = TextAnalysis.tokenWindows(docs, "doc_id", "text",
        window = 3, stride = 3)
      .where($"doc_id" === 1L).orderBy("chunk_ix")
      .collect().map(_.getString(2))
    assert(disjoint.toSeq == Seq("a b c", "d e f", "g"))
    // parameter guards refuse loudly
    assert(intercept[IllegalArgumentException](
      TextAnalysis.tokenWindows(docs, "doc_id", "text", 0, 1))
      .getMessage.contains("window"))
    assert(intercept[IllegalArgumentException](
      TextAnalysis.tokenWindows(docs, "doc_id", "text", 4, 5))
      .getMessage.contains("stride"))
  }
}
