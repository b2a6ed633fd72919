package graft

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `Tables.table` resolves each base table's schema once: it must equal
  * Spark's own inference, launch no job when warm, and follow a rewrite
  * of the table or a change of the parquet settings inference reads. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String = tempDir(s"graft_$name")

  private val fixtureTables: Seq[String] =
    new java.io.File(sf).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted

  test("every fixture table's resolved schema is Spark's inferred schema") {
    assert(fixtureTables.contains("lineitem") && fixtureTables.contains("events"))
    fixtureTables.foreach { t =>
      assert(Tables.table(spark, sf, t).schema
        == spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
    assert(Tables.eventsFileSchema(spark, sf)
      == spark.read.parquet(s"$sf/events.parquet").schema)
  }

  test("a warm Tables.table read launches no Spark job") {
    // the counter sees the inference job a bare read runs
    assert(jobsDuring(spark.read.parquet(s"$sf/lineitem.parquet")) >= 1)
    Tables.table(spark, sf, "lineitem")
    Tables.eventsFileSchema(spark, sf)
    assert(jobsDuring(Tables.table(spark, sf, "lineitem")) == 0)
    assert(jobsDuring(Tables.eventsFileSchema(spark, sf)) == 0)
  }

  /** write `df` as ONE parquet file at `dir/name.parquet` */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = s"$dir/staging"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  test("rewriting a single-file table with a new schema is seen on the next read") {
    val d = tmpDir("tables_file")
    writeFile(Seq((1L, "a")).toDF("id", "v"), d, "t")
    assert(Tables.table(spark, d, "t").columns.toSeq == Seq("id", "v"))
    writeFile(Seq((2L, 3.5, "b")).toDF("id", "w", "v"), d, "t")
    val back = Tables.table(spark, d, "t")
    assert(back.schema == spark.read.parquet(s"$d/t.parquet").schema)
    assert(back.columns.toSeq == Seq("id", "w", "v"))
    assert(back.as[(Long, Double, String)].collect().toSeq == Seq((2L, 3.5, "b")))
  }

  test("rewriting a Spark-written directory table with a new schema is seen on the next read") {
    val d = tmpDir("tables_dir")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(2)
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    assert(Tables.table(spark, d, "t").columns.toSeq == Seq("id", "v"))
    Seq((3L, true)).toDF("id", "flag")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val back = Tables.table(spark, d, "t")
    assert(back.schema == spark.read.parquet(s"$d/t.parquet").schema)
    assert(back.as[(Long, Boolean)].collect().toSeq == Seq((3L, true)))
  }

  test("a parquet inference setting is part of the cache key") {
    // the fixture's events.ts is timestamp[us] without UTC adjustment:
    // Spark infers TIMESTAMP_NTZ unless inferTimestampNTZ is turned off
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    def ts = Tables.table(spark, sf, "events").schema("ts").dataType
    assert(ts == TimestampNTZType)
    spark.conf.set(key, "false")
    try {
      assert(ts == TimestampType)
      assert(ts == spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType)
    } finally spark.conf.unset(key)
    assert(ts == TimestampNTZType)
  }
}
