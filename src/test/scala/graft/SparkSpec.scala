package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test session: one JVM-wide SparkSession (getOrCreate), local[4],
  * UTC, small shuffle partitions. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Session.builder(cpus = "4").appName("graft-test").getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** [[SparkSpec.tempDir]] */
  def tempDir(prefix: String): String = SparkSpec.tempDir(prefix)

  def q(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)

  /** `body` with the session confs `conf` set; each is restored after */
  def withConf[T](conf: (String, String)*)(body: => T): T = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  def activeStreams: Set[String] = spark.streams.active.map(_.id.toString).toSet

  /** `body`, then the session must hold the views and active streams it
    * held before */
  def leavesNothing[T](body: => T): T = {
    val (views, streams) = (tempViews, activeStreams)
    val out = body
    assert(tempViews == views, s"views left behind: ${tempViews -- views}")
    assert(activeStreams == streams, s"streams left active: ${activeStreams -- streams}")
    out
  }

  /** Janino compilations (generated classes; driver and local tasks
    * alike) `body` runs */
  def compilesDuring(body: => Unit): Long = {
    val c0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

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

  /** The physical plan descriptions of the SQL executions started
    * while `body` runs, in order. Read once [[jobsDuring]]'s sentinel
    * has been seen: this listener sits on the same bus queue, ahead of
    * it, so every earlier execution start has reached it. */
  def plansDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case st: SparkListenerSQLExecutionStart => plans.add(st.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      jobsDuring(body)
      plans.toArray(Array.empty[String]).toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  private val made = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    // a link is removed, never followed
    def rm(f: java.io.File): Unit = {
      if (!java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    made.forEach(rm(_))
  }))

  /** A fresh directory under the system temp dir, named `prefix` plus a
    * random suffix. It is deleted, with everything in it, when the JVM
    * exits. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.toString
  }
}
