package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.streaming.{FileBus, FileBusCompact, FileBusProvider, Streaming}
import org.apache.spark.sql.functions._

/** Log compaction (the Kafka `cleanup.policy=compact` contract) and the
  * stream-static decontamination rung. Compaction's three guarantees:
  * (1) exactly the latest record per (partition, key) survives, in the
  * original relative order — asserted on raw log bytes; (2) replaying
  * the compacted topic reaches the same final keyed state as the full
  * topic; (3) compaction is idempotent. */
class FileBusCompactionSpec extends SparkSpec {

  private def mkTopic(parts: Int): String = {
    val dir = tempDir("filebus_compact_")
    FileBus.createTopic(dir, parts)
    dir
  }

  private def logLines(dir: String, p: Int): Seq[String] = {
    val f = Paths.get(dir, s"p$p.log")
    new String(Files.readAllBytes(f), UTF_8).split("\n", -1).toSeq.dropRight(1)
  }

  private def readTopic(dir: String) =
    spark.read.format(classOf[FileBusProvider].getName).option("path", dir).load()

  test("compaction keeps exactly the latest record per key, per partition, in source order") {
    val in = mkTopic(2)
    // p0: k1 appears at offsets 0 and 2, k2 at 1 and 4 — survivors are
    // offsets 2 (k1), 3 (k3), 4 (k2), in that source order
    FileBus.append(in, 0, Seq("k1,1,a", "k2,2,b", "k1,3,c", "k3,4,d", "k2,5,e"))
    // p1 has its own k1: compaction is PER PARTITION, like Kafka's cleaner
    FileBus.append(in, 1, Seq("k1,10,z", "k1,11,y"))
    val out = mkTopic(2)
    FileBusCompact.compact(spark, in, out)
    assert(logLines(out, 0) == Seq("k1,3,c", "k3,4,d", "k2,5,e"))
    assert(logLines(out, 1) == Seq("k1,11,y"))
  }

  test("replaying the compacted topic reaches the full topic's final keyed state; compact is idempotent") {
    val in = mkTopic(3)
    val rnd = new scala.util.Random(42)
    (0 until 3).foreach { p =>
      FileBus.append(in, p, (0 until 500).map(i =>
        s"k${rnd.nextInt(20)},$i,v$p-$i"))
    }
    val out = mkTopic(3)
    FileBusCompact.compact(spark, in, out)

    // final keyed state: the max-offset record's value per (partition, key)
    def state(dir: String): Set[(Int, String, String)] =
      readTopic(dir)
        .groupBy(col("partition"), split(col("value"), ",").getItem(0).as("k"))
        .agg(max_by(col("value"), col("offset")).as("v"))
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(state(out) == state(in))
    // compacted topic holds exactly one record per surviving (partition, key)
    val n = readTopic(out).count()
    assert(n == state(in).size && n < readTopic(in).count())

    val out2 = mkTopic(3)
    FileBusCompact.compact(spark, out, out2)
    (0 until 3).foreach(p => assert(logLines(out2, p) == logLines(out, p)))
  }

  test("streaming decontamination equals the batch twin (stream-static anti-join is batching-invariant)") {
    val streamed = Streaming.decontaminateStream(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val docs = graft.sources.Tables.documents(spark, sf)
    val batch = graft.api.Graft.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")
      .select("doc_id", "fp")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }
}
