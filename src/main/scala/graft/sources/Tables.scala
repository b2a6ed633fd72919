package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source layer: the driver's parquet star schema (TESTDATA.md) plus the
  * reference's text-directory input convention.
  *
  * Reference equivalent: the flat input directory of plain-text files at
  * `fs/input/<job>/` listed by `tools.py:147-154` and read line-by-line at
  * `datanode.py:598-603`. Here every durable dataset is columnar parquet so
  * scans get predicate pushdown + column pruning for free.
  */
object Tables {

  /** A parquet base table, read with its schema resolved ONCE.
    *
    * A bare `spark.read.parquet(path)` infers its schema by running a
    * Spark job that reads a footer (`mergeSchemasInParallel` always
    * launches one; no conf turns it off), so every read of every query
    * paid one job before the query started — the reference lists a job's
    * input on the master once (`namenode.py:400-405`) and its map tasks
    * never re-derive it. Here the first read of a table runs Spark's own
    * inference (so the schema is exactly what Spark infers) and later
    * reads plan the same relation through `read.schema(..)`, with no job.
    *
    * The cached schema is reused only while everything inference reads
    * is unchanged: the qualified path, the length and modification time
    * of every data file under it (one status call for a file, the
    * recursive listing for a Spark-written directory, skipping `_`- and
    * `.`-prefixed commit markers, checksums and staging dirs), and the
    * session's `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
    * settings, which the footer converter reads (`nanosAsLong`, `inferTimestampNTZ`,
    * `binaryAsString`, `int96AsTimestamp`). One entry per table version
    * and setting set; the cache never touches the session conf.
    *
    * Measured on perfbench olap (4 cores, 12 alternating pairs against
    * the bare read): its 7 base-table reads were 7 of a pass's 29 jobs;
    * without them `query_tail_s` fell 0.50 -> 0.32 s and `wall_s`
    * 1.63 -> 1.19 s (12/12 pairs each), and `q_sql_shipping_priority`
    * (three tables) builds with no job at all.
    *
    * Each read stays ONE scan task per single-row-group file (a row
    * group is the reader's minimum split): a round-robin exchange under
    * every larger read taxed ~50 cheap single-pass queries (r18); a
    * CPU-bound read fans out on the exchange its own aggregate needs
    * (see [[graft.api.Graft.shingleArrays]]). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  private final case class SchemaKey(path: String,
      files: Seq[(String, Long, Long)], parquetConf: Map[String, String])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** The schema Spark infers for the parquet file or directory at
    * `path` under the session's current settings, inferred once per
    * [[SchemaKey]]. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val key = SchemaKey(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString, dataFiles(spark, path),
      spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      })
    schemas.computeIfAbsent(key, _ => spark.read.parquet(path).schema)
  }

  /** (qualified path, length, modification time) of every data file of
    * the parquet file or Spark-written directory at `path`, sorted: one
    * status call for a file, the recursive listing for a directory
    * (skipping `_`/`.`-prefixed names). A stamp of the table's content
    * that costs no Spark job — the schema cache's key, and what a
    * fixture derived from a table checks before rebuilding. */
  def dataFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    files(fs, fs.getFileStatus(p)).sorted
  }

  private def files(fs: FileSystem, st: FileStatus): Seq[(String, Long, Long)] =
    if (!st.isDirectory)
      Seq((fs.makeQualified(st.getPath).toString, st.getLen, st.getModificationTime))
    else fs.listStatus(st.getPath).toSeq
      .filterNot { c => val n = c.getPath.getName; n.startsWith("_") || n.startsWith(".") }
      .flatMap(files(fs, _))

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

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set(NanosAsLong, "true")
    withEventTs(table(s, d, "events"))
  }

  /** The events file's RAW schema (before [[withEventTs]]), under the
    * same legacy nanos flag [[events]] sets and from the same cache as
    * [[table]] — what a file-stream source over `events.parquet` must
    * declare. */
  def eventsFileSchema(s: SparkSession, d: String): StructType = {
    s.conf.set(NanosAsLong, "true")
    schemaOf(s, s"$d/events.parquet")
  }

  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  private val scratchDirs = ConcurrentHashMap.newKeySet[String]()

  /** The session's scratch directory `name` for the scale factor at `d`:
    * `/tmp/graft_<name>_<sf dir name>_<app id>`. The app id is unique per
    * SparkSession, so two concurrent sessions on one scale factor (a
    * bench and a verify) never race one overwrite against the other's
    * read-back. It is deleted, with everything in it, when the JVM
    * exits; one shutdown hook per directory, however often it is asked
    * for. */
  def scratchDir(s: SparkSession, d: String, name: String): String = {
    val dir = s"/tmp/graft_${name}_${java.nio.file.Paths.get(d).getFileName}_" +
      s.sparkContext.applicationId
    if (scratchDirs.add(dir))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(dir))
      }))
    dir
  }

  /** Reference-style source: directory of plain text files, one row per line
    * (`spark.read.text`), mirroring `datanode.py:598-603`'s file reader. */
  def textDir(s: SparkSession, dir: String): DataFrame = s.read.text(dir)
}
