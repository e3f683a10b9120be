package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code launches. */
object JobCount {

  private val Tag = "graft.jobcount"

  /** Tags of every job started since the listener was added. */
  private lazy val tags = {
    val q = new ConcurrentLinkedQueue[String]()
    SparkTestBase.spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(Tag))).foreach(q.add)
    })
    q
  }

  /** Spark jobs launched while `body` runs on this thread. A tagged
    * marker job fences the asynchronous listener bus: once its start is
    * seen, every earlier job start has been delivered.
    */
  def during(spark: SparkSession)(body: => Unit): Int = {
    require(spark.sparkContext eq SparkTestBase.spark.sparkContext)
    val seen = tags
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(Tag, id)
    try body finally sc.setLocalProperty(Tag, s"$id-fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Tag, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!seen.contains(s"$id-fence") && System.nanoTime() < deadline) Thread.sleep(10)
    require(seen.contains(s"$id-fence"), "listener bus did not deliver the fence job")
    seen.asScala.count(_ == id)
  }
}
