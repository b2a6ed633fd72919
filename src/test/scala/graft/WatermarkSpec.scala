package graft

import org.apache.spark.sql.functions._

/** Watermark semantics: append-mode windowed aggregation drops data that
  * arrives later than the watermark, and only emits windows the watermark
  * has passed.
  *
  * Note Spark filters late rows with the PREVIOUS batch's watermark
  * (`watermarkForLateEvents` deliberately lags one batch), so the late
  * arrival is staged two batches after the on-time data. */
class WatermarkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Long) = new java.sql.Timestamp(min * 60000L)

  test("late event beyond the watermark is dropped; closed windows emit once") {
    val dir = tempDir("graft_wm")
    // batch 0: on-time events up to t=210min -> watermark 150min after it
    Seq((1L, ts(10)), (2L, ts(20)), (3L, ts(70)), (4L, ts(210)))
      .toDF("event_id", "ts").coalesce(1).write.parquet(s"$dir/f0")
    // batch 1: on-time event, watermark -> 170min
    Seq((6L, ts(230)))
      .toDF("event_id", "ts").coalesce(1).write.parquet(s"$dir/f1")
    // batch 2: a LATE event at t=30 (filter watermark is now 150min from
    // two batches back -> dropped) plus an on-time event
    Seq((5L, ts(30)), (7L, ts(250)))
      .toDF("event_id", "ts").coalesce(1).write.parquet(s"$dir/f2")
    val flat = tempDir("graft_wm_flat")
    Seq(0, 1, 2).foreach { b =>
      val src = new java.io.File(s"$dir/f$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      val dst = java.nio.file.Paths.get(flat, f"part-$b%05d.parquet")
      java.nio.file.Files.copy(src, dst)
      dst.toFile.setLastModified(1000000000000L + b * 60000L)
    }

    val name = "wm_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = spark.readStream
      .schema(spark.read.parquet(flat).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(flat)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table(name)
      .as[(java.sql.Timestamp, Long)].collect()
      .map { case (w, n) => (w.getTime / 60000L, n) }.toMap
    // [0,60): ids 1,2 on time; late id 5 DROPPED -> n=2
    // [60,120): id 3 -> n=1
    // windows at/after 180min: watermark never passes their end -> unemitted
    assert(got == Map(0L -> 2L, 60L -> 1L), got.toString)
  }
}
