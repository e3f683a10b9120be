package graft

/** Measures what the hash-determinism ORDER BY costs in q14-shaped
  * queries: 6-key vs minimal-unique 3-key vs no sort.
  */
object SortCostProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("lineitem")

    val body =
      """SELECT l_orderkey, l_linenumber,
                round(sqrt(l_quantity), 6) AS r_sqrt,
                round(ln(l_extendedprice), 6) AS r_ln,
                round(log10(l_extendedprice), 6) AS r_log10,
                round(log2(l_quantity), 6) AS r_log2,
                round(power(l_discount, 2), 6) AS r_pow,
                abs(-l_tax) + 0.0 AS r_abs,
                round(sin(l_quantity), 6) AS r_sin,
                round(cos(l_quantity), 6) AS r_cos
         FROM lineitem"""
    val variants = Seq(
      "sort6" -> s"$body ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax",
      "sort3" -> s"$body ORDER BY l_orderkey, l_linenumber, l_extendedprice",
      "nosort" -> body)

    // warmup
    spark.sql(variants.head._2).write.mode("overwrite").format("noop").save()
    for ((name, sql) <- variants ++ variants) {
      val t0 = System.nanoTime()
      spark.sql(sql).write.mode("overwrite").format("noop").save()
      println(f"$name%8s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
