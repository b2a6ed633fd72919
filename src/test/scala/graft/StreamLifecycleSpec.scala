package graft

import graft.streaming.{StatefulSessionize, Streaming}
import org.apache.spark.sql.functions._

/** A bounded stream runs, drains and cleans up through `Streaming`'s
  * two helpers: after any stream query, on success or failure, the
  * session holds the same temp views and active streams as before. */
class StreamLifecycleSpec extends SparkSpec {
  import spark.implicits._

  /** one parquet file of (user_id, event_id, ts_us) rows */
  private def eventsDir(): String = {
    val dir = tempDir("graft_lifecycle")
    Seq((1L, 1L, 0L), (1L, 2L, 60000000L), (1L, 3L, 90000000000L),
      (2L, 4L, 0L), (2L, 5L, 90000000000L))
      .toDF("user_id", "event_id", "ts_us").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("every stream query leaves the session's views and active streams as they were") {
    leavesNothing {
      Streaming.defs.foreach(d => q(d.name).collect())
      val closed = StatefulSessionize.closedSessions(spark, eventsDir(), 3600000000L)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(closed == Set((1L, 1L, 2L, 0L), (2L, 1L, 1L, 0L)))
    }
  }

  test("a stream query leaves the caller's conf as it found it") {
    Streaming.defs.foreach { d =>
      // the first run may make the engine's once-per-session settings
      // (the stats commit protocol, the legacy parquet flag); the conf
      // is compared around the second
      q(d.name).collect()
      val conf = spark.conf.getAll
      q(d.name).collect()
      val after = spark.conf.getAll
      assert(after == conf, s"${d.name} changed the conf: " +
        s"${(after.toSet diff conf.toSet) ++ (conf.toSet diff after.toSet)}")
    }
  }

  test("a second identical stream run compiles no generated code") {
    val dir = eventsDir()
    val schema = spark.read.parquet(dir).schema
    def counts(): Set[(Long, Long, Long)] =
      Streaming.toMemory(spark.readStream.schema(schema).parquet(dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), max("event_id").as("last")), "complete")
        .as[(Long, Long, Long)].collect().toSet
    def late(): Long =
      Streaming.foldBatches(spark.readStream.schema(schema).parquet(dir), 0L) {
        (n, batch, _) => n + batch.filter(col("ts_us") > 0L).count()
      }._1
    val (want, wantLate) = (counts(), late())
    assert(want == Set((1L, 3L, 3L), (2L, 2L, 5L)) && wantLate == 3L)
    // each stream query runs in a session clone of its own; its tasks
    // must still share one class loader, or the codegen cache (keyed by
    // loader and code) misses on every run
    assert(compilesDuring(assert(counts() == want)) == 0)
    assert(compilesDuring(assert(late() == wantLate)) == 0)
  }

  /** the join operators, with their build sides, of the final (adaptive)
    * plan of every SQL execution `body` starts, in execution order */
  private def joinsDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val plans = new java.util.concurrent.ConcurrentSkipListMap[Long, String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.put(u.executionId, u.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // jobsDuring returns once the bus has delivered every event body posted
    try jobsDuring(body) finally spark.sparkContext.removeSparkListener(listener)
    val join = "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin|BroadcastNestedLoopJoin)( \\w+)*".r
    plans.values.toArray(Array.empty[String]).toSeq.map { p =>
      join.findAllIn(p.split("== Initial Plan ==").head).mkString(", ")
    }
  }

  test("warm q_stream_retention runs plan the same joins") {
    // its joins on the batch's touched users build that side; left to
    // AQE, the build side followed runtime shuffle sizes, which flipped
    // from run to run, and each flip compiled new classes. (A count of
    // compiles would not pin this: Spark's codegen cache is keyed by
    // class loader and code, and whether this query's ~80 entries per
    // run overflow a cache segment varies from JVM to JVM)
    def run(): Unit = q("q_stream_retention").write.format("noop").mode("overwrite").save()
    run()
    val first = joinsDuring(run())
    assert(first.exists(_.contains("BroadcastHashJoin Inner")), first)
    for (i <- 2 to 4) {
      val again = joinsDuring(run())
      assert(again == first, s"warm run $i planned\n${again.mkString("\n")}\n" +
        s"where warm run 1 planned\n${first.mkString("\n")}")
    }
  }

  test("a table-writing stream query's runs each get their own table in one session scratch dir") {
    val scratch = graft.sources.Tables.scratchDir(spark, sf, "stream_cdf")
    val dirs = Seq(1, 2).map(_ => Streaming.streamChangefeedCounted(spark, sf, 1)._3)
    assert(dirs.distinct.size == 2, dirs)
    dirs.foreach(d => assert(new java.io.File(d).getParent == scratch, d))
    // each run's history is its own: the second did not stack onto the first
    val versions = dirs.map(graft.sources.Snapshots.currentVersion(spark, _))
    assert(versions.distinct.size == 1, versions)
  }

  test("foldBatches times out a wedged micro-batch and stops its query") {
    val dir = eventsDir()
    val schema = spark.read.parquet(dir).schema
    val t0 = System.nanoTime()
    leavesNothing {
      intercept[java.util.concurrent.TimeoutException] {
        Streaming.foldBatches(spark.readStream.schema(schema).parquet(dir), 0L,
            timeoutMs = 2000L) { (n, batch, _) =>
          Thread.sleep(600000L)
          n + batch.count()
        }
      }
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    assert(elapsedS < 60, s"stop must interrupt the wedged batch (took $elapsedS s)")
  }

  test("a failing stream fails toMemory and leaves no sink view") {
    val dir = eventsDir()
    val schema = spark.read.parquet(dir).schema
    val boom = udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("boom")
      x
    }
    leavesNothing {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streaming.toMemory(spark.readStream.schema(schema).parquet(dir)
          .select(boom(col("user_id")).as("u")), "append")
      }
      assert(e.getMessage.contains("boom"), e.getMessage)
    }
  }
}
