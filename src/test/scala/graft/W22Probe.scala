package graft

import graft.api.Table

/** Bisection probe for the w22 bench cost: times each window column of
  * the driver query separately at sf0.1 (warm JVM, 2-pass min).
  */
object W22Probe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
      .createOrReplaceTempView("orders")
    val cols = Seq(
      "sd_part" -> """CAST(sum(DISTINCT o_custkey % 97) OVER (
           PARTITION BY o_orderstatus) AS BIGINT)""",
      "ad_part" -> """avg(DISTINCT o_custkey % 97) OVER (
           PARTITION BY o_orderstatus)""",
      "sd_frame" -> """CAST(sum(DISTINCT o_custkey % 11) OVER (
           PARTITION BY o_orderstatus ORDER BY o_orderkey
           ROWS BETWEEN 4 PRECEDING AND 4 FOLLOWING) AS BIGINT)""",
      "sd_filt" -> """CAST(sum(DISTINCT o_custkey % 11)
           FILTER (WHERE o_totalprice > 120000) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderkey
             ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING) AS BIGINT)""",
      "sd_excl" -> """CAST(sum(DISTINCT o_custkey % 11) OVER (
           PARTITION BY o_orderstatus ORDER BY o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           EXCLUDE CURRENT ROW) AS BIGINT)""",
      "ad_excl" -> """avg(DISTINCT o_custkey % 13) OVER (
           PARTITION BY o_orderstatus ORDER BY o_orderkey
           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
           EXCLUDE CURRENT ROW)""",
      "sd_ties" -> """CAST(sum(DISTINCT o_custkey % 10) OVER (
           PARTITION BY o_orderstatus ORDER BY o_orderkey % 5
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           EXCLUDE TIES) AS BIGINT)""",
      "sd_dec" -> """CAST(sum(DISTINCT CAST(round(o_totalprice)
           AS DECIMAL(18,2))) OVER (PARTITION BY o_orderstatus)
           AS DOUBLE)"""
    )
    cols.foreach { case (name, expr) =>
      val sql =
        s"""SELECT o_orderkey AS k, $expr AS $name
            FROM orders WHERE o_orderkey % 7 = 0 ORDER BY k"""
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val df = Table.sessionSql(spark, sql).toDF
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-10s ${times.min}%8.2f s")
    }
    spark.stop()
  }
}
