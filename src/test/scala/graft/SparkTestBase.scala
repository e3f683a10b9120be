package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM, and one [[Trace]]
  * on it.
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.getOrCreate("local[4]")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  lazy val trace: Trace = Trace.install(spark)
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
}
