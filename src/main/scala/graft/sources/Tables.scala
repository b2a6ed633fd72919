package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source layer: the driver's parquet star schema (TESTDATA.md) plus the
  * reference's text-directory input convention.
  *
  * Reference equivalent: the flat input directory of plain-text files at
  * `fs/input/<job>/` listed by `tools.py:147-154` and read line-by-line at
  * `datanode.py:598-603`. Here every durable dataset is columnar parquet so
  * scans get predicate pushdown + column pruning for free.
  */
object Tables {

  /** A bare parquet read. The fixture tables are single-row-group
    * files and a row group is the reader's minimum split, so such a
    * scan is ONE task. It stays that way: a round-robin exchange under
    * every larger read taxed ~50 cheap single-pass queries (r18), and at
    * the one CPU-bound read measured with it — the MinHash documents
    * read on the 8,000-doc stretch16 corpus, local[4], AQE, median of 13
    * interleaved reps in one JVM — it ran 0.96 s per query against
    * 1.12 s for the bare scan but 0.80 s for the doc_id exchange that
    * query needs anyway, moved below its CPU-bound map side (see
    * [[graft.api.Graft.shingleArrays]]). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** The driver's `events.ts` storage type has varied across testdata
    * generations: TIMESTAMP(NANOS) (which Spark reads as a nanos-since-
    * epoch BIGINT under the legacy flag set in [[events]]) vs plain
    * TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
    * TIMESTAMP_NTZ). Normalize either encoding of a `ts` column to the
    * session-zone TimestampType — every engine session pins the session
    * zone to UTC, so all three paths denote the same microsecond instant
    * and match DuckDB's `CAST(ts AS TIMESTAMP)` (naive micros) exactly.
    * Works on batch and streaming frames alike (schema-only dispatch). */
  def withEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    withEventTs(table(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Reference-style source: directory of plain text files, one row per line
    * (`spark.read.text`), mirroring `datanode.py:598-603`'s file reader. */
  def textDir(s: SparkSession, dir: String): DataFrame = s.read.text(dir)
}
