package graft
import org.apache.spark.sql.functions._
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[4]")
      .config("spark.sql.codegen.fallback", "false")          // codegen errors THROW
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY") // no interpreted fallback
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Registry.registerAll(spark)
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "")).toDF("id", "t")
    val emb = Seq((1L, Array(0.5, -0.25, 1.0)), (2L, Array(0.0, 0.0, 0.0))).toDF("id", "v")
    df.createOrReplaceTempView("d"); emb.createOrReplaceTempView("e")
    val r1 = spark.sql("""
      SELECT id,
             minhash_sig(window_hashes(transform(split(t, ' '), s -> xxhash64(s)), 3), 8) AS mh,
             simhash64(transform(split(t, ' '), s -> xxhash64(s))) AS sh
      FROM d ORDER BY id""").collect()
    println("PROBE mh1 size=" + (if (r1(0).isNullAt(1)) "null" else r1(0).getSeq[Long](1).size))
    println("PROBE sh1=" + r1(0).getLong(2))
    val r2 = spark.sql("""
      SELECT a.id, cosine_sim(a.v, b.v) AS cs, sign_bits(a.v, 8) AS sb
      FROM e a JOIN e b ON b.id = 1 ORDER BY a.id""").collect()
    println("PROBE cs self=" + r2(0).getDouble(1) + " zero-norm null=" + r2(1).isNullAt(1))
    println("PROBE CODEGEN_ONLY OK")
    spark.stop()
  }
}
