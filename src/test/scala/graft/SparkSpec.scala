package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: one JVM-wide SparkSession (getOrCreate), local[4],
  * UTC, small shuffle partitions. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Session.builder(cpus = "4").appName("graft-test").getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  def q(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** Spark jobs `body` launches on this thread. Its jobs carry a fresh
    * job group; a sentinel job in a second group runs after it, and the
    * count is read once the listener has seen the sentinel start — the
    * bus delivers events in order, so no job of `body` is still queued. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "jobs-during-" + java.util.UUID.randomUUID
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-sentinel" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(s"$group-sentinel", group)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
