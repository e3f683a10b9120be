package graft

import graft.api.Table

/** Ad-hoc runtime verification driver: exercises the public library
  * surface (GraftSession + Table.sql + registered functions) against the
  * driver-generated parquet corpus, including error-path probes.
  */
object SmokeMain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    println("=== [1] Table.sql: group-by + np.* + casts over lineitem ===")
    val t = Table.fromParquet(spark, "/root/testdata/sf0.001/lineitem.parquet")
    t.sql("""select l_returnflag, count(*) as n, sum(l_quantity) as sq,
             round(np.log(sum(l_extendedprice)), 6) as nplog,
             to_int('42') as i42, to_str(l_linenumber) as s
             from lineitem group by l_returnflag, l_linenumber
             order by l_returnflag, l_linenumber limit 5""").show()

    println("=== [2] datetime/interval functions + '#' xor via dialect ===")
    Table(spark.range(1).toDF("x")).sql(
      """select date('now') d, datetime('2020-10') dt,
         from_timestamp(1596899421) ft, datetime(18000, 'D') dd,
         timestamp'2020-01-01' + timedelta(3, 'D') plus3,
         is_busday(date'2026-08-12') busy, to_bool(1) b,
         cast(5 # 3 as int) as five_xor_three, '#keep' as lit_untouched
         from t""").show(20, truncate = false)

    println("=== [3] vector/hash expressions over embeddings + documents ===")
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e.createOrReplaceTempView("emb")
    spark.sql("""select a.vec_id, b.vec_id bid,
        cosine_sim(a.embedding, b.embedding) cs,
        sign_bits(a.embedding, 8) sb
      from emb a join emb b on b.vec_id = a.vec_id + 1
      where a.vec_id < 3""").show(truncate = false)
    spark.sql("""select doc_id,
        simhash64(transform(split(lower(text), '\\W+'), x -> xxhash64(x))) sh,
        minhash_sig(transform(split(lower(text), '\\W+'), x -> xxhash64(x)), 4) mh
      from parquet.`/root/testdata/sf0.001/documents.parquet` limit 3""")
      .show(truncate = false)

    println("=== [3b] jaro_winkler fuzzy scoring over part names ===")
    spark.sql("""select p_name, jaro_winkler(p_name, 'smal ring') jw
      from parquet.`/root/testdata/sf0.001/part.parquet`
      where jaro_winkler(p_name, 'smal ring') >= 0.9
      order by jw desc, p_name limit 4""").show(truncate = false)

    println("=== [probe] unknown np.* function ===")
    try { t.sql("select np.notafunc(l_quantity) from lineitem").show() }
    catch { case ex: Exception => println("EXPECTED ERROR: " + ex.getMessage.linesIterator.next()) }

    println("=== [probe] timedelta with bad unit ===")
    try { t.sql("select l_orderkey + timedelta(1, 'parsec') from lineitem").show() }
    catch { case ex: Exception => println("EXPECTED ERROR: " + firstLine(ex)) }

    println("=== [probe] to_int on malformed string (ANSI) ===")
    try { Table(spark.range(1).toDF("x")).sql("select to_int('abc') from t").show() }
    catch { case ex: Exception => println("EXPECTED ERROR: " + firstLine(ex)) }

    println("=== [probe] variadic cast quirk to_int(a, b) -> array ===")
    Table(spark.range(1).toDF("x")).sql(
      "select to_int('1', '2') packed, to_float(1, 2.5) pf from t").show(20, truncate = false)

    println("=== [probe] minhash determinism across two sessions of the plan ===")
    val sig1 = spark.sql("select minhash_sig(array(1L,2L,3L), 8) s").collect()(0).getSeq[Long](0)
    val sig2 = spark.sql("select minhash_sig(array(3L,1L,2L), 8) s").collect()(0).getSeq[Long](0)
    println(s"order-invariant: ${sig1 == sig2}; sig=${sig1.mkString(",")}")

    println("=== [4] round-5 functions: unicode_normalize / bloom / vec_sum ===")
    val u = spark.sql(
      """select unicode_normalize('café', 'NFC') nfc,
                vec_sum_long(array(1L, 2L)) vs""").collect()(0)
    println(s"nfc='${u.getString(0)}' vec_sum=${u.getSeq[Long](1).mkString(",")}")
    val bfB = spark.sql(
      "select bloom_agg(xxhash64(cast(id as string)), 100) b from range(50)")
      .collect()(0).getAs[Array[Byte]](0)
    val hits = spark.sql(
      s"""select sum(cast(bloom_might_contain(
            X'${bfB.map("%02x".format(_)).mkString}',
            xxhash64(cast(id as string))) as int)) h from range(50)""")
      .collect()(0).getLong(0)
    println(s"bloom members hit: $hits/50")

    println("=== [5] round-6 surface: explainTree / streaming replay / oracled pair sets ===")
    val tree = t.explainTree(
      "select l_quantity * 2 as q2 from lineitem where q2 > 50 order by q2")
    println(tree.linesIterator.take(4).mkString("\n"))
    println("tree has Sort/Filter: " +
      (tree.contains("'Sort") && tree.contains("'Filter")))
    val sess = {
      import org.apache.spark.sql.streaming.Trigger
      val q = graft.streaming.Events.streamingSessionize(
          graft.streaming.Events.readStream(spark, "/root/testdata/sf0.001"), 30)
        .writeStream.outputMode("append").format("memory").queryName("smoke_sess")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q.stop()
      spark.table("smoke_sess")
    }
    val batchSess = graft.streaming.Events.sessionize(
      graft.streaming.Events.read(spark, "/root/testdata/sf0.001"), 30)
    println(s"stream rows=${sess.count()} batch rows=${batchSess.count()} " +
      s"equal=${sess.select("event_id", "session_seq").exceptAll(
        batchSess.select("event_id", "session_seq")).isEmpty}")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val j5 = graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text",
      shingleK = 5, threshold = 0.5).count()
    val j9 = graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text",
      shingleK = 5, threshold = 0.9).count()
    println(s"jaccard pairs (5-grams) t>=0.5: $j5, t>=0.9: $j9")

    println("=== [6] round-7 surface: audio features / pivot / lateral ===")
    val af = graft.ops.Multimodal.audioFeatures(
      graft.ops.Multimodal.withWavPayload(
        docs.withColumn("text", org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.col("text"),
          org.apache.spark.sql.functions.lit(""))), "doc_id", "text"),
      "doc_id", "payload")
    val afRow = af.orderBy("doc_id").collect()(0)
    println(s"audioFeatures rows=${af.count()} first: rate=${afRow.getInt(1)} " +
      s"n=${afRow.getLong(2)} rms=${afRow.getDouble(4)}")
    val pivoted = SparkEntry.queries("g03_pivot")(spark, "/root/testdata/sf0.001")
    pivoted.show(3, truncate = false)
    val lateral = SparkEntry.queries("sub05_lateral")(spark, "/root/testdata/sf0.001")
    println(s"lateral top-2 per priority rows=${lateral.count()}")

    println("=== [7] round-8 surface: PQ heap ranking / Lloyd-refined codebook ===")
    locally {
      import org.apache.spark.sql.functions.col
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val P = graft.ops.Pq
      val cb = P.refineCodebook(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 16, iters = 1)
      val codes = P.encode(emb, cb, "vec_id", "embedding", dim = 64, m = 4)
      val top = P.adcTopK(codes, cb, emb.filter(col("vec_id") < 2),
        "vec_id", "embedding", dim = 64, m = 4, k = 5)
      val noWindow = !top.queryExecution.executedPlan.toString.contains("Window")
      println(s"refined-PQ top-5 rows=${top.count()} rankWindowFree=$noWindow")
      val bpe = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(graft.ops.TextAnalysis.bpeTokenCount(
          org.apache.spark.sql.functions.col("text")).as("n"))
        .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
      println(s"bpe corpus tokens=$bpe")
    }

    println("=== [8] wave-3 surface: exact percentiles / dist windows / higher-order ===")
    locally {
      val sf = "/root/testdata/sf0.001"
      val pct = SparkEntry.queries("g09_percentiles")(spark, sf)
      pct.show(3, truncate = false)
      val dw = SparkEntry.queries("w07_dist_windows")(spark, sf)
      println(s"dist-window rows=${dw.count()}")
      val ho = SparkEntry.queries("q27_higher_order")(spark, sf)
      ho.show(3, truncate = false)
      val url = SparkEntry.queries("t12_url_normalize")(spark, sf)
      url.show(4, truncate = false)
      val psi = SparkEntry.queries("pr04_drift_psi")(spark, sf)
      psi.show(5, truncate = false)
      val lb = SparkEntry.queries("p10_length_batches")(spark, sf)
      println(s"length-batch rows=${lb.count()} " +
        s"batches=${lb.select("source", "bucket_len", "batch_id").distinct().count()}")
      val sd = SparkEntry.queries("d13_semantic_dedup")(spark, sf)
      val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
      println(s"semantic-dedup kept=${sd.count()} of base=$total + planted")
      SparkEntry.queries("q28_string_fns")(spark, sf).show(2, truncate = false)
      SparkEntry.queries("q29_date_fns")(spark, sf).show(2, truncate = false)
      val sl = SparkEntry.queries("st10_stream_sliding")(spark, sf)
      println(s"sliding windows rows=${sl.count()}")
      SparkEntry.queries("io09_zorder_layout")(spark, sf).show(1, truncate = false)
      SparkEntry.queries("pr05_embedding_stats")(spark, sf).show(2, truncate = false)
      val fq = SparkEntry.queries("ap03_freq_sketch")(spark, sf)
      val bad = fq.filter("NOT lower_ok OR NOT upper_ok").count()
      println(s"cms keys=${fq.count()} gate-violations=$bad")
      println(s"grouping-sets rows=${SparkEntry.queries("g10_grouping_fn")(spark, sf).count()}")
      SparkEntry.queries("q30_try_cast")(spark, sf).show(3, truncate = false)
      SparkEntry.queries("m08_audio_segments")(spark, sf).show(3, truncate = false)
      SparkEntry.queries("io10_csv_dirty")(spark, sf).show(1, truncate = false)
      println(s"map rows=${SparkEntry.queries("q31_map_fns")(spark, sf).count()}")
      SparkEntry.queries("pr06_winsorize")(spark, sf).show(5, truncate = false)
      println(s"ignore-nulls rows=${SparkEntry.queries("w08_ignore_nulls")(spark, sf).count()}")
      SparkEntry.queries("g11_bit_agg")(spark, sf).show(3, truncate = false)
      SparkEntry.queries("q32_array_setops")(spark, sf).show(2, truncate = false)
      SparkEntry.queries("p11_pipeline_v4")(spark, sf).show(4, truncate = false)
      val dh = SparkEntry.queries("d14_decontaminate_hashed")(spark, sf)
      println(s"hashed decontamination rows=${dh.count()} " +
        s"flagged=${dh.filter("flagged").count()}")
      val rr = SparkEntry.queries("s13_ann_rerank")(spark, sf)
      println(s"rerank rows=${rr.count()} (5 probes x top-5 refined)")
      SparkEntry.queries("pr07_corr_matrix")(spark, sf).show(6, truncate = false)
      SparkEntry.queries("pr08_mad_outliers")(spark, sf).show(5, truncate = false)
      SparkEntry.queries("u03_cdc_deletes")(spark, sf).show(3, truncate = false)
      SparkEntry.queries("e09_new_users")(spark, sf).show(3, truncate = false)
      SparkEntry.queries("q33_interval_arith")(spark, sf).show(2, truncate = false)
      SparkEntry.queries("st11_stream_cdc_upsert")(spark, sf).show(5, truncate = false)
      SparkEntry.queries("sub06_not_in_null")(spark, sf).show(1, truncate = false)
      val bo = SparkEntry.queries("d15_dedup_best_of")(spark, sf)
      println(s"best-of survivors=${bo.count()} " +
        s"multi-groups=${bo.filter("group_size > 1").count()}")
      SparkEntry.queries("sp07_temporal_split")(spark, sf).show(3, truncate = false)
      SparkEntry.queries("q34_nested_json")(spark, sf).show(4, truncate = false)
      SparkEntry.queries("q35_to_json")(spark, sf).show(2, truncate = false)
      SparkEntry.queries("g12_agg_filter")(spark, sf).show(3, truncate = false)
      println(s"lag-offsets rows=${SparkEntry.queries("w09_lag_offsets")(spark, sf).count()}")
      SparkEntry.queries("g14_heavy_hitters")(spark, sf).show(9, truncate = false)
      println(s"union-by-name rows=${SparkEntry.queries("set03_union_by_name")(spark, sf).count()}")
      SparkEntry.queries("pr09_manifest")(spark, sf).show(8, truncate = false)
      val ov = SparkEntry.queries("j08_interval_overlap")(spark, sf)
      println(s"interval-overlap left rows=${ov.count()}")
      SparkEntry.queries("t13_vocab")(spark, sf).show(5, truncate = false)
      SparkEntry.queries("t14_sentences")(spark, sf).show(3, truncate = false)
    }

    println("=== [r18] recursion drain loop (broadcast-gated EXCEPT path) ===")
    locally {
      // exercises the optimization-round drain internals end-to-end: the
      // UNION-distinct cycle guard now runs as a measured-size-gated
      // broadcast anti-join; closure of n -> (n % 5) + 1 from seed 1 is
      // {1..5} whatever the join strategy
      val r = Table.sessionSql(spark,
        """WITH RECURSIVE cc(n) AS (SELECT 1 UNION
             SELECT (n % 5) + 1 FROM cc)
           SELECT count(*) AS c, CAST(sum(n) AS BIGINT) AS s FROM cc""").toDF
        .collect().head
      println(s"recursion closure count=${r.getLong(0)} sum=${r.getLong(1)}")
      assert(r.getLong(0) == 5L && r.getLong(1) == 15L,
        "recursion closure mismatch through the gated drain path")
    }

    println("=== [9] round-9 surface: QUALIFY dialect clause ===")
    locally {
      val orders = Table.fromParquet(spark, "/root/testdata/sf0.001/orders.parquet")
      val top2 = orders.sql(
        """SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders QUALIFY rn <= 2 ORDER BY o_custkey, rn LIMIT 6""")
      top2.show(6, truncate = false)
      // semantics check vs the hand-written subquery formulation
      val manual = orders.sql(
        """SELECT * FROM (
             SELECT o_custkey, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders) WHERE rn <= 2""").toDF
      val full = orders.sql(
        """SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders QUALIFY rn <= 2""").toDF
      println(s"qualify rows=${full.count()} manual rows=${manual.count()} " +
        s"equal=${full.exceptAll(manual).isEmpty && manual.exceptAll(full).isEmpty}")
      // direct window predicate, no alias
      val direct = orders.sql(
        """SELECT o_orderkey FROM orders
           QUALIFY rank() OVER (ORDER BY o_totalprice DESC) = 1""").toDF
      println(s"direct-window qualify rows=${direct.count()}")
      val sf = "/root/testdata/sf0.001"
      val div = SparkEntry.queries("q40_division")(spark, sf)
      println(s"relational-division customers=${div.count()}")
      SparkEntry.queries("e15_interpolate")(spark, sf).show(4, truncate = false)
      SparkEntry.queries("t19_bpe_pair_counts")(spark, sf).show(5, truncate = false)
      SparkEntry.queries("fe01_feature_hash")(spark, sf).show(4, truncate = false)
      SparkEntry.queries("fe02_target_encode")(spark, sf).show(5, truncate = false)
      val tk = SparkEntry.queries("st14_stream_topk")(spark, sf)
      println(s"stream top-k rows=${tk.count()}")
      SparkEntry.queries("io13_parquet_bloom")(spark, sf).show(5, truncate = false)
      SparkEntry.queries("sub07_any_all")(spark, sf).show(2, truncate = false)
      // star EXCLUDE at the Table.sql surface (schema-aware dialect rewrite)
      val excl = Table.fromParquet(spark, s"$sf/documents.parquet")
        .sql("SELECT * EXCLUDE (text, source) FROM documents ORDER BY doc_id")
      println(s"exclude cols=${excl.columnNames.mkString(",")} rows=${excl.count()}")
      SparkEntry.queries("q41_group_by_all")(spark, sf).show(3, truncate = false)
      SparkEntry.queries("e16_rfm")(spark, sf).show(4, truncate = false)
      SparkEntry.queries("t20_collocations")(spark, sf).show(5, truncate = false)
      SparkEntry.queries("sp10_class_balance")(spark, sf).show(5, truncate = false)
      val su = SparkEntry.queries("st15_stream_hourly_users")(spark, sf)
      println(s"stream hourly distinct users rows=${su.count()}")
      val wr = SparkEntry.queries("w10_range_interval")(spark, sf)
      println(s"interval range frame rows=${wr.count()}")
      SparkEntry.queries("t21_zipf_slope")(spark, sf).show(1, truncate = false)
      SparkEntry.queries("d19_lsh_curve")(spark, sf).show(4, truncate = false)
      val lp = SparkEntry.queries("gr04_label_propagation")(spark, sf)
      println(s"label-prop nodes=${lp.count()} " +
        s"communities=${lp.select("community").distinct().count()}")
      println(s"values-join rows=${SparkEntry.queries("q43_values")(spark, sf).count()} " +
        s"bag-setops rows=${SparkEntry.queries("set04_bag_setops")(spark, sf).count()}")
      val sfu = SparkEntry.queries("st16_stream_funnel")(spark, sf)
      println(s"stream funnel users=${sfu.count()} " +
        s"converted=${sfu.filter("reached_3 = 1").count()}")
      SparkEntry.queries("pr16_entropy")(spark, sf).show(3, truncate = false)
      SparkEntry.queries("e17_dow_hour")(spark, sf).show(3, truncate = false)
      // round-9 np.* extensions at the Table.sql surface
      Table(spark.range(1).toDF("z")).sql(
        """select np.floor_divide(-7, 2) fd, np.true_divide(7, 2) td,
                  np.bitwise_xor(12, 10) bx, np.copysign(3, -1) cs,
                  np.isfinite(cast(1 as double)) fin from t""")
        .show(1, truncate = false)
      SparkEntry.queries("q45_np_stats")(spark, sf).show(3, truncate = false)
      SparkEntry.queries("fe03_impute")(spark, sf).show(4, truncate = false)
      val sg = SparkEntry.queries("j11_spatial_grid")(spark, sf)
      println(s"grid radius join pairs=${sg.count()}")
      // round-10: toArrowIpc driver-materialization cap + iterate facade
      val small = Table(spark.range(4).toDF("x"))
      println(s"arrow export bytes=${small.toArrowIpc.length}")
      try {
        graft.api.ArrowExport.toArrowIpcCapped(spark.range(10).toDF("x"), 5L)
        println("CAP GUARD FAILED TO FIRE")
      } catch {
        case e: IllegalArgumentException =>
          println("arrow cap guard: " + firstLine(e).take(60))
      }
      val itN = small.iterate(3)((t, _) =>
        Table(t.df.selectExpr("x + 1 as x"))).count()
      println(s"iterate facade rows=$itN")
      // sql_pd parity: rendered result table as a string
      val rendered = small.sqlPd("select x, x * 2 as dbl from t order by x")
      println(rendered.linesIterator.take(4).mkString("\n"))
      val prevBatch = Table.setBatchSize(spark, 4096)
      println(s"setBatchSize prev=$prevBatch")
      Table.setBatchSize(spark, prevBatch)
      // round-10 operator wave
      println(s"bm25 rows=${SparkEntry.queries("s15_bm25")(spark, sf).count()}")
      SparkEntry.queries("s16_hybrid_rrf")(spark, sf).show(3, truncate = false)
      println(s"kcore rows=${SparkEntry.queries("gr05_kcore")(spark, sf).count()}")
      println(s"dsir rows=${SparkEntry.queries("sp11_dsir_weights")(spark, sf).count()}")
      SparkEntry.queries("sp12_gumbel_topk")(spark, sf).show(3, truncate = false)
      SparkEntry.queries("g16_corr_matrix")(spark, sf).show(3, truncate = false)
      println(s"as-of rows=${SparkEntry.queries("u06_point_in_time")(spark, sf).count()}")
      // round-11: np.floor_divide coercions (NULL literal / numeric string)
      Table(spark.range(1).toDF("z")).sql(
        """select np.floor_divide(NULL, 2) fdnull,
                  np.floor_divide('7', 2) fdstr,
                  np.floor_divide(-7, 2) fdint from t""")
        .show(1, truncate = false)
      // round-11: distributed temperatureSample (broadcast thresholds)
      import org.apache.spark.sql.functions.{col, lit, sum, when}
      val corpus = spark.range(500).toDF("id")
        .withColumn("src", when(col("id") < 50, lit("s")).otherwise(lit("l")))
      val temp = graft.ops.Sampling.temperatureSample(corpus, "id", "src")
      println(s"temperature sample kept=${temp.count()} " +
        s"small=${temp.filter("src = 's'").count()} (expect small=50)")
      // round-11: ASOF JOIN at the SQL surface (self + distinct tables)
      val asof = SparkEntry.queries("a05_asof_sql")(spark, sf)
      println(s"asof sql rows=${asof.count()} " +
        s"matched=${asof.filter("prev_event_id is not null").count()}")
      spark.read.parquet(s"$sf/events.parquet").createOrReplaceTempView("events")
      spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("orders")
      Table.sessionSql(spark,
        """SELECT e.event_id, o.o_orderdate AS last_order_date
           FROM events e ASOF JOIN orders o
             ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
           ORDER BY e.event_id LIMIT 3""").show(3, truncate = false)
      // round-11: negative-cap guard on the driver-side Arrow export
      try {
        graft.api.ArrowExport.toArrowIpcCapped(
          spark.range(1).toDF("x"), Int.MaxValue.toLong + 5L)
        println("BIG-CAP GUARD FAILED TO FIRE")
      } catch {
        case e: IllegalArgumentException =>
          println("arrow big-cap guard: " + firstLine(e).take(60))
      }
      // round-12: ASOF USING + QUALIFY composition at the SQL surface
      spark.read.parquet(s"$sf/events.parquet").createOrReplaceTempView("events")
      val usingQ = Table.sessionSql(spark,
        """SELECT e.event_id, p.event_id AS last_purchase
           FROM events e ASOF LEFT JOIN
             (SELECT user_id, ts, event_id FROM events
              WHERE event_type = 'purchase') p
             USING (user_id, ts)
           QUALIFY row_number() OVER (PARTITION BY e.user_id
                                      ORDER BY e.ts DESC) = 1
           ORDER BY e.event_id LIMIT 5""").toDF
      println(s"asof-using+qualify rows=${usingQ.count()}")
      // round-12: snapshot diff + novelty at the ops surface
      val snapA = spark.read.parquet(s"$sf/orders.parquet")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val snapB = snapA.filter(col("o_orderkey") % 11 =!= 0)
      val nDel = graft.ops.Cdc.diff(snapA, snapB,
        Seq("o_orderkey"), Seq("o_orderstatus"))
        .filter(col("op") === "delete").count()
      println(s"snapshot diff deletes=$nDel (expect ~1/11 of orders)")
      // round-12: distributed Arrow export through the refactored
      // per-partition writer (task-commit protocol path)
      val expDir = java.nio.file.Files.createTempDirectory("smoke_arrow_").toString
      val expDf = spark.read.parquet(s"$sf/nation.parquet")
        .select(col("n_nationkey").cast("long").as("k"), col("n_name"))
        .repartition(3)
      val written = graft.api.ArrowExport.writeArrowIpcFiles(expDf, expDir, batchRows = 7)
      val parts = new java.io.File(expDir).listFiles().filter(_.getName.endsWith(".arrow"))
      val back = parts.map(f => graft.api.ArrowExport.fromArrowIpc(spark,
        java.nio.file.Files.readAllBytes(f.toPath))).reduce(_ unionByName _)
      println(s"arrow export files=${parts.length} rows=$written readBack=${back.count()}")
      // round-12: IS [NOT] DISTINCT FROM at the SQL surface (q51)
      val idf = SparkEntry.queries("q51_is_distinct_from")(spark, sf)
      idf.show(1, truncate = false)
      val idfRow = idf.collect()(0)
      require(idfRow.getLong(idf.columns.indexOf("n_distinct")) +
        idfRow.getLong(idf.columns.indexOf("n_same")) ==
        idfRow.getLong(idf.columns.indexOf("n_total")),
        "IS DISTINCT FROM must partition all rows")
      println(s"is-distinct-from partition check OK (${idfRow.mkString(",")})")
      // round-12: geospatial family — bucketed nearest-site join at the
      // library surface plus the haversine metric
      val geo = SparkEntry.queries("geo01_nearest_site")(spark, sf)
      println(s"geo nearest-site rows=${geo.count()}")
      geo.show(3, truncate = false)
      val pl = spark.range(1)
        .select(graft.ops.Geo.haversineKm(
          lit(48.8566), lit(2.3522), lit(51.5074), lit(-0.1278)).as("km"))
        .first().getDouble(0)
      println(f"paris-london haversine km=$pl%.1f (expect ~343.6)")
      // round-12: weighted shortest path (Bellman-Ford on Iterate)
      val sp = SparkEntry.queries("gr06_shortest_path")(spark, sf)
      println(s"gr06 shortest-path reached=${sp.count()} " +
        s"zero-dist sources=${sp.filter(col("dist") === 0).count()}")
      // round-12: exact-moment skewness/kurtosis at the SQL surface
      SparkEntry.queries("g19_moments")(spark, sf).show(3, truncate = false)
      // round-12: DISTINCT ON through the dialect (latest order per
      // customer), radius analytics on boxJoin, named WINDOW clause
      val don = SparkEntry.queries("q53_distinct_on")(spark, sf)
      println(s"distinct-on rows=${don.count()} (one per customer)")
      try {
        Table(spark.range(3).toDF("k"))
          .sql("SELECT DISTINCT ON (k) k FROM t")
        println("DISTINCT-ON GUARD FAILED TO FIRE")
      } catch {
        case e: IllegalArgumentException =>
          println("distinct-on no-order guard: " + firstLine(e).take(60))
      }
      val rc = SparkEntry.queries("geo04_radius_count")(spark, sf)
      println(s"geo04 radius-count rows=${rc.count()}")
      println(s"q52 named-window rows=" +
        SparkEntry.queries("q52_named_window")(spark, sf).count())
      // round-12: audio resample checksum path
      val ar = SparkEntry.queries("m12_audio_resample")(spark, sf)
      println(s"m12 audio-resample rows=${ar.count()} " +
        s"rate16k=${ar.filter(col("sample_rate") === 16000).count()}")
      // round-12: statistics-only join cardinality + zero-state
      // streaming geo enrichment
      val jc = SparkEntry.queries("pr17_join_cardinality")(spark, sf)
      jc.show(1, truncate = false)
      val sgeo = SparkEntry.queries("st20_stream_geo_enrich")(spark, sf)
      println(s"st20 stream-geo sites=${sgeo.count()} " +
        s"events=${sgeo.agg(sum(col("n"))).first().getLong(0)}")
      // round-12: Neyman labeling-budget allocation
      val ney = SparkEntry.queries("sp13_neyman_allocation")(spark, sf)
      println(s"sp13 neyman strata=${ney.count()} " +
        s"allocated=${ney.agg(sum(col("alloc"))).first().getLong(0)}/1000")
      println(s"q54 market-basket pairs=" +
        SparkEntry.queries("q54_market_basket")(spark, sf).count())
      val nsamp = SparkEntry.queries("sp14_neyman_sample")(spark, sf)
      println(s"sp14 neyman-sample kept=" +
        s"${nsamp.agg(sum(col("n_sampled"))).first().getLong(0)} of budget 100")
      SparkEntry.queries("pr19_auc_mwu")(spark, sf).show(1, truncate = false)
      SparkEntry.queries("pr20_chi_square")(spark, sf).show(1, truncate = false)
      // round-12: time-series diagnostics on the daily rollup
      SparkEntry.queries("e21_autocorrelation")(spark, sf)
        .show(2, truncate = false)
      SparkEntry.queries("e22_cusum_changepoint")(spark, sf)
        .show(1, truncate = false)
      // round-12: time-series diagnostics (robust trend + trend test)
      SparkEntry.queries("e23_theil_sen")(spark, sf).show(1, truncate = false)
      SparkEntry.queries("e24_mann_kendall")(spark, sf).show(1, truncate = false)
      // round-12: drift (KS) + experiment readout (two-proportion z)
      SparkEntry.queries("e25_ab_test")(spark, sf).show(1, truncate = false)
      // round-12: readability gate
      SparkEntry.queries("t24_readability")(spark, sf).show(2, truncate = false)
      // round-16: sampling clauses (q64) — all three forms + explain
      val smp = SparkEntry.queries("q64_sample_clause")(spark, sf)
      smp.show(3, truncate = false)
      val docsT = Table(spark.read.parquet(s"$sf/documents.parquet"))
      println("q64 explain(USING SAMPLE) map-only=" +
        !docsT.explainSql("SELECT doc_id FROM d USING SAMPLE 10%")
          .contains("Exchange"))
      // round-16: DML statement forms + the cheap MERGE guard
      val dml = SparkEntry.queries("u10_dml_statements")(spark, sf)
      dml.show(6, truncate = false)
      println(s"u09 merge (equi-ON source-side guard) rows=" +
        SparkEntry.queries("u09_merge_into")(spark, sf).count())
      // round-16: GROUPS frames + min/max EXCLUDE
      println(s"w14 groups-frames rows=" +
        SparkEntry.queries("w14_groups_frames")(spark, sf).count())
      println(s"w15 minmax-exclude rows=" +
        SparkEntry.queries("w15_minmax_exclude")(spark, sf).count())
      // round-16: WordPiece triad completion + multi-CTE recursion
      SparkEntry.queries("t31_wordpiece")(spark, sf).show(4, truncate = false)
      SparkEntry.queries("gr10_recursive_helpers")(spark, sf)
        .show(1, truncate = false)
      // round-16: statement-form extras — CTAS chain, COPY round-trip,
      // positional zip-join
      println(s"u11 ctas rows=" +
        SparkEntry.queries("u11_ctas")(spark, sf).count())
      println(s"io21 copy-roundtrip rows=" +
        SparkEntry.queries("io21_copy_roundtrip")(spark, sf).count())
      println(s"j12 positional rows=" +
        SparkEntry.queries("j12_positional_join")(spark, sf).count())
      println(s"t32 wordpiece-tokenize rows=" +
        SparkEntry.queries("t32_wordpiece_tokenize")(spark, sf).count())
      println(s"q65 list-functions rows=" +
        SparkEntry.queries("q65_list_functions")(spark, sf).count())
      println(s"u12 on-conflict rows=" +
        SparkEntry.queries("u12_insert_on_conflict")(spark, sf).count())
      // round-17: correlated DML, conditional upsert, COPY FROM import,
      // guarded generate_series
      println(s"u13 correlated-dml rows=" +
        SparkEntry.queries("u13_correlated_dml")(spark, sf).count())
      println(s"u14 conflict-where rows=" +
        SparkEntry.queries("u14_conflict_where")(spark, sf).count())
      println(s"io22 copy-from rows=" +
        SparkEntry.queries("io22_copy_from")(spark, sf).count())
      println("gs-guard " + spark.sql(
        "SELECT size(generate_series(1, 0)) z, generate_series(5, 1, -2) d")
        .collect().head)
      println(s"w16 minmax-exclude-group rows=" +
        SparkEntry.queries("w16_minmax_exclude_group")(spark, sf).count())
      println(s"gr11 multi-recursion rows=" +
        SparkEntry.queries("gr11_multi_recursion")(spark, sf).count())
      println(s"w17 filter-exclude rows=" +
        SparkEntry.queries("w17_filter_exclude")(spark, sf).count())
      println(s"u15 dml-returning rows=" +
        SparkEntry.queries("u15_dml_returning")(spark, sf).count())
      println(s"u16 cte-dml rows=" +
        SparkEntry.queries("u16_cte_dml")(spark, sf).count())
      println(s"u17 schema-ddl rows=" +
        SparkEntry.queries("u17_schema_ddl")(spark, sf).count())
      // round-17: DISTINCT window aggregates (w18), BY-ALL shorthand
      // (q66), SEMI/ANTI keyword joins (j13)
      println(s"w18 count-distinct-window rows=" +
        SparkEntry.queries("w18_count_distinct_window")(spark, sf).count())
      println("w18 inline " + Table.sessionSql(spark,
        """SELECT count(DISTINCT l_linenumber) OVER
             (PARTITION BY l_returnflag) AS cd
           FROM lineitem LIMIT 1""").toDF.collect().head)
      println(s"q66 by-all rows=" +
        SparkEntry.queries("q66_by_all")(spark, sf).count())
      println(s"j13 semi-anti rows=" +
        SparkEntry.queries("j13_semi_anti")(spark, sf).count())
      // round-17 second wave
      for (q <- Seq("w19_groups_exclude", "w20_window_filter",
        "w21_chained_windows", "s20_hard_negatives", "t33_bits_per_byte",
        "io23_copy_partitioned", "io24_file_read_sql",
        "io25_export_database", "u18_drop_alter", "u19_subquery_dml",
        "u20_script", "gr11_multi_recursion", "q67_ordered_aggs",
        "q68_pattern_ops"))
        println(s"$q rows=" + SparkEntry.queries(q)(spark, sf).count())
    }

    spark.stop()
    println("SMOKE OK")
  }

  private def firstLine(ex: Exception): String = {
    val m = ex.getMessage
    if (m == null) ex.getClass.getName else m.linesIterator.next()
  }
}
