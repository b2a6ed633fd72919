package graft

import graft.sources.{Sinks, Tables}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Source/sink round-trips: parquet (partitioned), csv, json, text dir. */
class SourcesSinksSpec extends SparkSpec {

  private def tmp(name: String): String = tempDir(s"graft_$name") + "/out"

  test("partitioned parquet sink round-trips and prunes partitions") {
    val li = Tables.lineitem(spark, sf)
    val path = tmp("part")
    Sinks.writePartitioned(li, path, Seq("l_returnflag"))
    val back = spark.read.parquet(path)
    assert(back.count() == li.count())
    // partition dirs exist per value
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("l_returnflag=")))
    // partition-pruned read: only the R slice's files are scanned
    val pruned = back.filter(col("l_returnflag") === "R")
    val scans = pruned.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    assert(scans.head.partitionFilters.exists(_.references.exists(_.name == "l_returnflag")))
    assert(pruned.count() == li.filter(col("l_returnflag") === "R").count())
  }

  test("csv and json sources round-trip a projected table") {
    val o = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val csvPath = tmp("csv")
    Sinks.writeCsv(o, csvPath)
    val csvBack = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(csvPath)
    assert(csvBack.count() == o.count())
    assert(csvBack.columns.toSeq == o.columns.toSeq)

    val jsonPath = tmp("json")
    Sinks.writeJson(o, jsonPath)
    val jsonBack = spark.read.json(jsonPath)
    assert(jsonBack.count() == o.count())
    assert(jsonBack.agg(sum("o_orderkey")).head().getLong(0)
      == o.agg(sum("o_orderkey")).head().getLong(0))
  }

  test("parquet schema evolution: mergeSchema unions old and new columns") {
    import spark.implicits._
    val dir = tmp("evolve")
    Seq((1L, "a")).toDF("id", "v1")
      .write.parquet(s"$dir/part=old")
    Seq((2L, "b", 9.5)).toDF("id", "v1", "v2")
      .write.parquet(s"$dir/part=new")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "v1", "v2", "part"))
    // old rows surface the new column as null, values preserved
    val old = merged.filter(col("part") === "old").head()
    assert(old.getAs[Long]("id") == 1L && old.isNullAt(old.fieldIndex("v2")))
    assert(merged.count() == 2)
  }

  test("orc sink round-trips with schema and values intact") {
    val o = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val orcPath = tmp("orc")
    Sinks.writeOrc(o, orcPath)
    val back = spark.read.orc(orcPath)
    assert(back.schema == o.schema)
    assert(back.agg(sum("o_orderkey")).head().getLong(0)
      == o.agg(sum("o_orderkey")).head().getLong(0))
  }

  test("text-dir source reads line-per-row like the reference input format") {
    val dir = new java.io.File(tempDir("graft_text"))
    java.nio.file.Files.writeString(new java.io.File(dir, "a.txt").toPath, "l1\nl2\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "b.txt").toPath, "l3\n")
    assert(Tables.textDir(spark, dir.getAbsolutePath).count() == 3)
  }

  test("compaction collapses a small-files directory, preserving every row") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val small = tmp("small")
    li.repartition(37).write.parquet(small) // simulate small-files accretion
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(small) == 37)
    val compacted = tmp("compacted")
    Sinks.compactTo(spark, small, compacted) // 37 tiny files << 128 MB target
    assert(parquetFiles(compacted) == 1)
    assert(spark.read.parquet(compacted).count() == li.count())
  }
}
