package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.api.Graft
import graft.functions.AsciiSum
import graft.sources.Tables._

/** Parity layer — the reference's actual capability surface as engine
  * queries over the driver's `documents` table (SURVEY.md §7.2-7.3).
  */
object Parity {

  val defs: Seq[QueryDef] = Seq(

    // WordCount, the reference's one registered app (`app_route.py:4-6`):
    // tokenize -> map -> shuffle on key -> partial+final count. This single
    // query exercises the reference's entire dataflow O1-O12.
    QueryDef(
      "q_wordcount",
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word FROM documents
        |) t WHERE word <> '' GROUP BY word
        |""".stripMargin) { (s, d) =>
      Graft.wordCount(documents(s, d), "text")
    },

    // The reference's hash partitioner (`utilities.py:59-61`): UTF-8 byte
    // sum mod 100, via the native codegen AsciiSum expression. Exposed as a
    // query so the oracle pins the exact partition-id semantics. The oracle
    // sums UTF-8 OCTETS (each codepoint expanded to its encoded byte sum),
    // matching the reference's sum(bytearray(key.encode())) for non-ASCII
    // tokens too — not codepoints, which would diverge outside ASCII.
    QueryDef(
      "q_parity_partition",
      """SELECT word, CAST(list_sum(list_transform(split(word, ''), x -> CASE
        |    WHEN unicode(x) < 128 THEN unicode(x)
        |    WHEN unicode(x) < 2048 THEN 320 + (unicode(x) // 64) + (unicode(x) % 64)
        |    WHEN unicode(x) < 65536 THEN 480 + (unicode(x) // 4096) + ((unicode(x) // 64) % 64) + (unicode(x) % 64)
        |    ELSE 624 + (unicode(x) // 262144) + ((unicode(x) // 4096) % 64) + ((unicode(x) // 64) % 64) + (unicode(x) % 64)
        |  END)) % 100 AS INT) AS partition_id,
        |  count(*) AS cnt
        |FROM (
        |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word FROM documents
        |) t WHERE word <> '' GROUP BY word
        |""".stripMargin) { (s, d) =>
      Graft.wordCount(documents(s, d), "text")
        .withColumn("partition_id", AsciiSum.parityPartition(col("word"), 100))
        .select("word", "partition_id", "cnt")
    },

    // MergeSort replacement (`app.py:17-43`): total order over the token
    // stream = range-partitioned sort. Output is the distinct-token rank so
    // the total order is visible to a row-order-insensitive comparator.
    QueryDef(
      "q_parity_sort",
      """SELECT word, CAST(row_number() OVER (ORDER BY word ASC) AS INT) AS pos FROM (
        |  SELECT DISTINCT unnest(regexp_split_to_array(lower(text), '\s+')) AS word FROM documents
        |) t WHERE word <> ''
        |""".stripMargin) { (s, d) =>
      // Scalable global ranking — NOT a bare row_number() over an
      // unpartitioned window (which funnels every row through one task):
      // range-partition the vocabulary, count each range, convert counts
      // to prefix offsets (one row per PARTITION, driver-bounded), then
      // pos = range offset + rank within the range. Any range boundary
      // choice yields the same global ranks, so AQE coalescing and
      // sampling-based boundaries can't perturb the result.
      val words = documents(s, d)
        .select(explode(Graft.tokens(col("text"))).as("word"))
        .distinct()
      // localCheckpoint pins ONE physical range partitioning: both the
      // offsets branch and the join branch below must see the same
      // boundaries, which plan-level exchange reuse suggests but does not
      // guarantee (RangePartitioner samples per-exchange otherwise)
      val ranged = words.repartitionByRange(32, col("word").asc)
        .withColumn("pid", spark_partition_id())
        .localCheckpoint()
      val offsets = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(
          Window.orderBy(col("pid").asc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("pid", "off")
      ranged.join(broadcast(offsets), "pid")
        .withColumn("pos", (col("off") + row_number().over(
          Window.partitionBy("pid").orderBy(col("word").asc))).cast("int"))
        .select("word", "pos")
    }
  )
}
