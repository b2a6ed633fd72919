package graft

import graft.streaming.{FileBus, FileBusMicroBatchStream, FileBusOffset, FileBusProvider, FileBusStaged, FileBusStreamingWrite, Streaming}
import org.apache.spark.sql.connector.read.streaming.ReadLimit

/** The partitioned/replayable ingestion rung: a FileBus topic consumed
  * through the shared windowed aggregation, proving (1) per-partition
  * offset ranges with admission control split the replay into multiple
  * deterministic micro-batches, (2) explicit startingOffsets replay a
  * suffix bit-identically, (3) a checkpointed restart resumes from the
  * committed offset and lands exactly-once totals — the three properties
  * the socket source (at-most-once, offsetless) cannot give. */
class FileBusSpec extends SparkSpec {

  private def mkTopic(parts: Int): String = {
    val dir = tempDir("filebus_")
    FileBus.createTopic(dir, parts)
    dir
  }

  private val H0 = 0L
  private val H1 = 3600L * 1000000L

  /** records: (partition, line); aggregate expectation computed in-test */
  private def rec(hourUs: Long, minute: Int, tpe: String, v: Double): String =
    s"${hourUs + minute * 60000000L},$tpe,$v"

  private def expectedAgg(lines: Seq[String]): Set[(Long, String, Long, Double)] =
    lines.map(_.split(',')).groupBy(f =>
        (f(0).toLong / H1 * 3600000L, f(1)))
      .map { case ((ws, tpe), fs) =>
        (ws, tpe, fs.size.toLong,
          fs.map(f => BigDecimal(f(2))).sum
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet

  private def collectAgg(table: String): Set[(Long, String, Long, Double)] =
    spark.table(table).collect().map(r =>
      (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3))).toSet

  test("offset json round-trips with stable ordering; admission control is deterministic") {
    val o = FileBusOffset(Map(2 -> 7L, 0 -> 3L, 1 -> 0L))
    assert(o.json() == """{"0":3,"1":0,"2":7}""")
    assert(FileBusOffset.parse(o.json()) == o)

    val dir = mkTopic(3)
    FileBus.append(dir, 0, (1 to 5).map(i => s"$i"))
    FileBus.append(dir, 1, (1 to 5).map(i => s"$i"))
    FileBus.append(dir, 2, (1 to 5).map(i => s"$i"))
    val stream = new FileBusMicroBatchStream(dir, "earliest", Some(7L))
    val start = stream.initialOffset().asInstanceOf[FileBusOffset]
    assert(start == FileBusOffset(Map(0 -> 0L, 1 -> 0L, 2 -> 0L)))
    // quota 7 over equal lags {5,5,5}: min-1 pass gives each 1, floors of
    // the remaining 4 give each +1, the leftover 1 lands on p0 (index
    // order) — every partition advances, nobody drains alone
    val step1 = stream.latestOffset(start, ReadLimit.maxRows(7L)).asInstanceOf[FileBusOffset]
    assert(step1 == FileBusOffset(Map(0 -> 3L, 1 -> 2L, 2 -> 2L)))
    val step2 = stream.latestOffset(step1, ReadLimit.maxRows(7L)).asInstanceOf[FileBusOffset]
    assert(step2 == FileBusOffset(Map(0 -> 5L, 1 -> 5L, 2 -> 4L)))
    val step3 = stream.latestOffset(step2, ReadLimit.maxRows(7L)).asInstanceOf[FileBusOffset]
    assert(step3 == FileBusOffset(Map(0 -> 5L, 1 -> 5L, 2 -> 5L)))
    // re-planning the same range is bit-identical (replay determinism)
    val plan1 = stream.planInputPartitions(start, step1).toSeq
    val plan2 = stream.planInputPartitions(start, step1).toSeq
    assert(plan1 == plan2 && plan1.size == 3)
  }

  test("proportional admission: cap respected, lag-proportional, no starvation, deterministic") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 50) {
      val nParts = 1 + rnd.nextInt(6)
      val lags = (0 until nParts).map(p => p -> rnd.nextInt(1000).toLong).toMap
      val quota = 1L + rnd.nextInt(500)
      val dir = mkTopic(nParts)
      lags.foreach { case (p, l) => if (l > 0) FileBus.append(dir, p, (1L to l).map(_.toString)) }
      val stream = new FileBusMicroBatchStream(dir, "earliest", Some(quota))
      val start = stream.initialOffset()
      val step = stream.latestOffset(start, ReadLimit.maxRows(quota)).asInstanceOf[FileBusOffset]
      val take = step.counts.map { case (p, o) => p -> o } // start is all-0
      val total = take.values.sum
      // (a) per-trigger admission never exceeds the cap (and fills it
      //     exactly while backlog remains)
      assert(total == math.min(quota, lags.values.sum), s"lags=$lags quota=$quota take=$take")
      take.foreach { case (p, t) => assert(t >= 0 && t <= lags(p)) }
      // (b) allocation is replay-deterministic
      val again = stream.latestOffset(start, ReadLimit.maxRows(quota)).asInstanceOf[FileBusOffset]
      assert(again == step)
      // (c) no starvation: whenever quota >= #lagging partitions, every
      //     lagging partition admits at least one record
      val lagging = lags.filter(_._2 > 0).keySet
      if (quota >= lagging.size) lagging.foreach { p =>
        assert(take(p) >= 1, s"partition $p starved: lags=$lags quota=$quota take=$take")
      }
      // (d) proportionality: a partition with k-fold the lag admits at
      //     least its floor-share (min-1 pass skews only by 1 per part)
      if (lags.values.sum > quota) {
        val sumLag = lags.values.sum
        lagging.foreach { p =>
          val floorShare = quota * lags(p) / sumLag
          assert(take(p) + lagging.size >= floorShare,
            s"partition $p under-served: lags=$lags quota=$quota take=$take")
        }
      }
    }
  }

  test("lineCount memoizes by (path, length): a no-append trigger scans zero bytes") {
    val dir = mkTopic(2)
    FileBus.append(dir, 0, (1 to 100).map(_.toString))
    FileBus.append(dir, 1, (1 to 50).map(_.toString))
    // append() primes the cache itself; endOffsets after appends must not
    // re-read the logs at all
    val b0 = FileBus.scanBytes.get()
    assert(FileBus.endOffsets(dir) == Map(0 -> 100L, 1 -> 50L))
    assert(FileBus.scanBytes.get() == b0,
      "no-append endOffsets must be served from the (path, length) cache")
    // a foreign append (bytes written behind the cache's back) costs
    // exactly the new bytes, never a full-log rescan
    val extra = "x1\nx2\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "p0.log"),
      extra.getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
    val b1 = FileBus.scanBytes.get()
    assert(FileBus.endOffsets(dir) == Map(0 -> 102L, 1 -> 50L))
    assert(FileBus.scanBytes.get() - b1 == extra.length.toLong,
      s"delta scan must cost only the appended bytes, scanned ${FileBus.scanBytes.get() - b1}")
  }

  test("concurrent same-partition appends are serialized: disjoint offset ranges") {
    val dir = mkTopic(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val bases = (1 to 40).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = FileBus.append(dir, 0, Seq(s"a$i", s"b$i"))
        })
      }.map(_.get())
      // 40 appends x 2 records: base offsets must be exactly {0,2,...,78}
      assert(bases.sorted == (0 until 40).map(_ * 2L))
      assert(FileBus.endOffsets(dir) == Map(0 -> 80L))
    } finally pool.shutdown()
  }

  test("hostile inputs: CR records rejected, stray files skipped, bad offsets fail fast, no negative admission") {
    val dir = mkTopic(2)
    // \r would desync readLine-based offset accounting — must be rejected
    intercept[IllegalArgumentException](FileBus.append(dir, 0, Seq("a\rb")))
    intercept[IllegalArgumentException](FileBus.append(dir, 0, Seq("a\nb")))
    // a stray non-numeric p*.log is not a partition and must not crash
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "pending.log"), "junk\n")
    assert(FileBus.partitions(dir) == Seq(0, 1))
    // malformed startingOffsets must fail at start, not replay-from-0
    intercept[IllegalArgumentException](FileBusOffset.parse("latestt"))
    intercept[IllegalArgumentException](FileBusOffset.parse("{bad json}"))
    // a typo'd entry BESIDE well-formed ones must fail, not drop silently
    // (dropping would replay the typo'd partition from 0)
    intercept[IllegalArgumentException](FileBusOffset.parse("""{"0":1,"oops":2}"""))
    intercept[IllegalArgumentException](FileBusOffset.parse("""{"0":1,"1":x}"""))
    intercept[IllegalArgumentException](FileBusOffset.parse("""{"0":1,"0":2}"""))
    assert(FileBusOffset.parse("{}") == FileBusOffset(Map.empty))
    assert(FileBusOffset.parse("""{ "0" : 3 }""") == FileBusOffset(Map(0 -> 3L)))
    // a start offset past the log end: takes clamp at 0 (no quota
    // inflation), offsets never regress
    FileBus.append(dir, 0, Seq("x", "y"))
    FileBus.append(dir, 1, (1 to 5).map(_.toString))
    val stream = new FileBusMicroBatchStream(dir, """{"0":100,"1":0}""", Some(3L))
    val step = stream.latestOffset(stream.initialOffset(), ReadLimit.maxRows(3L))
      .asInstanceOf[FileBusOffset]
    assert(step == FileBusOffset(Map(0 -> 100L, 1 -> 3L)),
      s"p0 must hold at 100 (not regress to 2) and p1 must admit exactly 3: $step")
    val all = stream.latestOffset(step, ReadLimit.allAvailable()).asInstanceOf[FileBusOffset]
    assert(all == FileBusOffset(Map(0 -> 100L, 1 -> 5L)))
  }

  test("batch parity: the full log reads as a static table with per-partition offsets") {
    val dir = mkTopic(2)
    FileBus.append(dir, 0, Seq("a", "b", "c"))
    FileBus.append(dir, 1, Seq("d"))
    val df = spark.read.format(classOf[FileBusProvider].getName)
      .option("path", dir).load()
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    assert(rows == Set((0, 0L, "a"), (0, 1L, "b"), (0, 2L, "c"), (1, 0L, "d")))
  }

  test("admission control splits a partitioned topic into multiple micro-batches; agg is exact") {
    val dir = mkTopic(3)
    val lines = (0 until 3).flatMap { p =>
      val ls = (0 until 10).map(i =>
        rec(if (i % 2 == 0) H0 else H1, i, if (i % 3 == 0) "purchase" else "click", i + 0.5))
      FileBus.append(dir, p, ls)
      ls
    }
    val name = "bus_agg_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = Streaming.busIngest(spark, dir, Map("maxRecordsPerTrigger" -> "10"))
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(collectAgg(name) == expectedAgg(lines))
      // 30 records at 10/trigger = at least 3 data batches
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 3, s"expected >=3 data micro-batches, saw $dataBatches")
    } finally q.stop()
  }

  test("explicit startingOffsets replays exactly the suffix") {
    val dir = mkTopic(2)
    val skipped = Seq(rec(H0, 0, "click", 100.0), rec(H0, 1, "click", 200.0))
    val kept = Seq(rec(H0, 2, "click", 1.0), rec(H1, 0, "purchase", 2.0))
    FileBus.append(dir, 0, skipped :+ kept.head)
    FileBus.append(dir, 1, Seq(kept(1)))
    val name = "bus_suffix_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = Streaming.busIngest(spark, dir,
        Map("startingOffsets" -> """{"0":2,"1":0}"""))
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(collectAgg(name) == expectedAgg(kept),
        "the two skipped records must not appear in any aggregate")
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the start-time snapshot in rate-limited batches, then terminates") {
    val dir = mkTopic(2)
    val ckpt = tempDir("filebus_an_")
    val lines = (0 until 12).map(i =>
      rec(if (i % 2 == 0) H0 else H1, i, if (i % 4 == 0) "purchase" else "click", i * 1.5))
    FileBus.append(dir, 0, lines.take(6))
    FileBus.append(dir, 1, lines.drop(6))
    def drainOnce(name: String): Long = {
      val q = Streaming.busIngest(spark, dir, Map("maxRecordsPerTrigger" -> "5"))
        .writeStream.outputMode("complete").format("memory")
        .queryName(name).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
      q.recentProgress.map(_.numInputRows).sum
    }
    val n1 = "bus_an1_" + java.util.UUID.randomUUID.toString.replace("-", "")
    assert(drainOnce(n1) == 12L)
    assert(collectAgg(n1) == expectedAgg(lines))
    // records appended after the first drain are picked up by the NEXT
    // AvailableNow run from the same checkpoint — and only they are read
    val extra = Seq(rec(H0, 20, "click", 99.0))
    FileBus.append(dir, 1, extra)
    val n2 = "bus_an2_" + java.util.UUID.randomUUID.toString.replace("-", "")
    assert(drainOnce(n2) == 1L, "second drain must read only the delta")
    assert(collectAgg(n2) == expectedAgg(lines ++ extra))
  }

  test("AvailableNow killed mid-ladder restarts exactly-once, with appends racing the drain") {
    val dir = mkTopic(2)
    val ckpt = tempDir("filebus_ankill_")
    val lines = (0 until 12).map(i =>
      rec(if (i % 2 == 0) H0 else H1, i, if (i % 4 == 0) "purchase" else "click", i * 1.5))
    FileBus.append(dir, 0, lines.take(6))
    FileBus.append(dir, 1, lines.drop(6))

    // run 1: cap 2 -> a 6-batch drain ladder; kill as soon as the first
    // batch lands (wherever the stop actually falls, exactly-once must
    // hold — the assertion below is valid for ANY kill point)
    val n1 = "bus_kill1_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q1 = Streaming.busIngest(spark, dir, Map("maxRecordsPerTrigger" -> "2"))
      .writeStream.outputMode("complete").format("memory")
      .queryName(n1).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val deadline = System.nanoTime() + 60e9.toLong
    while (q1.isActive && q1.recentProgress.map(_.numInputRows).sum < 2 &&
      System.nanoTime() < deadline) Thread.sleep(20)
    q1.stop()
    assert(q1.recentProgress.map(_.numInputRows).sum < 12,
      "kill must land mid-ladder for this test to exercise the restart")

    // records appended WHILE the first drain was dying: the restarted run
    // snapshots its own start-time end offsets, so they are drained too
    val extra = Seq(rec(H0, 30, "click", 7.0), rec(H1, 30, "purchase", 8.0))
    FileBus.append(dir, 0, extra.take(1))
    FileBus.append(dir, 1, extra.drop(1))

    val n2 = "bus_kill2_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q2 = Streaming.busIngest(spark, dir, Map("maxRecordsPerTrigger" -> "2"))
      .writeStream.outputMode("complete").format("memory")
      .queryName(n2).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(q2.awaitTermination(60000), "restarted AvailableNow drain must self-terminate")
      // exactly-once across the kill: every record counted once — the
      // replayed uncommitted batch lands identically, committed batches
      // are not re-read, racing appends are neither lost nor doubled
      assert(collectAgg(n2) == expectedAgg(lines ++ extra))
      // and the restart resumed from the checkpoint rather than replaying
      // the whole topic: committed run-1 rows are not re-read
      val committed1 = 12 + extra.size - q2.recentProgress.map(_.numInputRows).sum
      assert(committed1 >= 0, "run 2 must not read more than the uncommitted remainder")
    } finally q2.stop()
  }

  test("sink: batch write appends through staged files; per-partition content survives the round trip") {
    val a = mkTopic(3)
    val b = mkTopic(3)
    (0 until 3).foreach { p =>
      FileBus.append(a, p, (0 until 7).map(i => s"p$p-r$i"))
    }
    val src = spark.read.format(classOf[FileBusProvider].getName)
      .option("path", a).load()
    src.select(org.apache.spark.sql.functions.col("partition"),
        org.apache.spark.sql.functions.lit(0L).as("offset"),
        org.apache.spark.sql.functions.col("value"))
      .write.format(classOf[FileBusProvider].getName)
      .option("path", b).mode("append").save()
    def contents(dir: String): Map[Int, Set[String]] =
      spark.read.format(classOf[FileBusProvider].getName).option("path", dir).load()
        .collect().groupBy(_.getInt(0))
        .map { case (p, rs) => p -> rs.map(_.getString(2)).toSet }
    assert(contents(b) == contents(a),
      "every record must land in its own partition, none lost or duplicated")
    // staged dir is cleaned up after commit; the source never lists it
    assert(FileBus.partitions(b) == Seq(0, 1, 2))
    val staged = java.nio.file.Paths.get(b, ".staged")
    assert(!java.nio.file.Files.exists(staged) ||
      !java.nio.file.Files.list(staged).iterator().hasNext)
  }

  test("sink: bad write schemas and CR/LF records are rejected") {
    val b = mkTopic(1)
    import org.apache.spark.sql.functions._
    // missing partition column fails at plan time
    intercept[Exception] {
      spark.range(1).select(lit("x").as("value"))
        .write.format(classOf[FileBusProvider].getName)
        .option("path", b).mode("append").save()
    }
    // a CR inside a record fails the task (framing contract), nothing commits
    intercept[Exception] {
      spark.range(1).select(lit(0).as("partition"), lit(0L).as("offset"),
          lit("bad\rrecord").as("value"))
        .write.format(classOf[FileBusProvider].getName)
        .option("path", b).mode("append").save()
    }
    assert(FileBus.endOffsets(b) == Map(0 -> 0L), "aborted writes must not append")
  }

  test("sink: streaming write is exactly-once across checkpointed restart; replayed epoch commit is a no-op") {
    val a = mkTopic(2)
    val b = mkTopic(2)
    val ckpt = tempDir("filebus_sink_")
    FileBus.append(a, 0, Seq("a0", "a1"))
    FileBus.append(a, 1, Seq("a2"))
    def pump(): Unit = {
      import org.apache.spark.sql.functions.col
      val q = spark.readStream.format(classOf[FileBusProvider].getName)
        .option("path", a).load()
        .select(col("partition"), col("value"))
        .writeStream.format(classOf[FileBusProvider].getName)
        .option("path", b).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    pump()
    FileBus.append(a, 0, Seq("a3"))
    FileBus.append(a, 1, Seq("a4", "a5"))
    pump() // restart from the same checkpoint: must write ONLY the delta
    def all(dir: String): Map[Int, Seq[String]] =
      spark.read.format(classOf[FileBusProvider].getName).option("path", dir).load()
        .collect().groupBy(_.getInt(0))
        .map { case (p, rs) => p -> rs.sortBy(_.getLong(1)).map(_.getString(2)).toSeq }
    assert(all(b) == Map(0 -> Seq("a0", "a1", "a3"), 1 -> Seq("a2", "a4", "a5")),
      "restart must append exactly the unseen records, in offset order")

    // Spark's contract: commit(epochId) may be REPLAYED after recovery —
    // the epoch marker must make the second commit a whole-epoch no-op
    val w = new FileBusStreamingWrite(b, "qtest", "wtest", 0, 1)
    val stagedFile = java.nio.file.Paths.get(tempDir("staged_"), "staged.log")
    java.nio.file.Files.writeString(stagedFile, "x0\nx1\n")
    val msgs: Array[org.apache.spark.sql.connector.write.WriterCommitMessage] =
      Array(FileBusStaged(0, stagedFile.toString, 0L, 2L))
    val before = FileBus.endOffsets(b)(0)
    w.commit(99L, msgs)
    java.nio.file.Files.writeString(stagedFile, "x0\nx1\n") // re-staged replay
    w.commit(99L, msgs)
    assert(FileBus.endOffsets(b)(0) == before + 2,
      "replaying a committed epoch must append nothing")
  }

  test("checkpointed restart resumes from committed offsets: exactly-once totals, delta-only reads") {
    val dir = mkTopic(2)
    val ckpt = tempDir("filebus_ckpt_")
    val first = Seq(rec(H0, 0, "click", 1.0), rec(H0, 1, "click", 2.0),
      rec(H1, 0, "purchase", 3.0))
    FileBus.append(dir, 0, first.take(2))
    FileBus.append(dir, 1, first.drop(2))

    val n1 = "bus_ck1_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q1 = Streaming.busIngest(spark, dir)
      .writeStream.outputMode("complete").format("memory")
      .queryName(n1).option("checkpointLocation", ckpt).start()
    try {
      q1.processAllAvailable()
      assert(collectAgg(n1) == expectedAgg(first))
    } finally q1.stop()

    val delta = Seq(rec(H0, 3, "click", 4.0), rec(H1, 2, "click", 5.0))
    FileBus.append(dir, 0, delta.take(1))
    FileBus.append(dir, 1, delta.drop(1))

    val n2 = "bus_ck2_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q2 = Streaming.busIngest(spark, dir)
      .writeStream.outputMode("complete").format("memory")
      .queryName(n2).option("checkpointLocation", ckpt).start()
    try {
      q2.processAllAvailable()
      // exactly-once: restored state + delta == batch over everything
      assert(collectAgg(n2) == expectedAgg(first ++ delta))
      // and the restart read ONLY the delta records, not the whole log
      val readRows = q2.recentProgress.map(_.numInputRows).sum
      assert(readRows == delta.size,
        s"restart must resume from committed offsets; read $readRows rows, want ${delta.size}")
    } finally q2.stop()
  }

  test("a current fixture topic is checked with no Spark job; a rewritten events file rebuilds it") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val d = Paths.get(tempDir("graft_busfix_"))
    Files.copy(Paths.get(s"$sf/events.parquet"), d.resolve("events.parquet"))
    val topic = graft.streaming.FileBusFixture.ensureTopic(spark, d.toString)
    def logs(): Seq[String] = (0 until graft.streaming.FileBusFixture.Partitions)
      .map(p => new String(Files.readAllBytes(Paths.get(topic, s"p$p.log")), "UTF-8"))
    try {
      val built = logs()
      val rows = spark.read.parquet(s"$sf/events.parquet").count()
      assert(built.map(_.count(_ == '\n')).sum == rows)
      assert(jobsDuring(graft.streaming.FileBusFixture.ensureTopic(spark, d.toString)) == 0)
      assert(logs() == built)
      // same row count, new values: the old (path, row count) manifest
      // could not tell this fixture from the first one
      val staging = d.resolve("staging").toString
      graft.sources.Tables.events(spark, d.toString)
        .withColumn("value", org.apache.spark.sql.functions.col("value") * 2)
        .coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, d.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      assert(jobsDuring(graft.streaming.FileBusFixture.ensureTopic(spark, d.toString)) > 0)
      val rebuilt = logs()
      assert(rebuilt.map(_.count(_ == '\n')).sum == rows)
      assert(rebuilt != built)
    } finally {
      Seq(Paths.get(topic), d).foreach { p =>
        Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      }
    }
  }
}
