package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Snapshots
import graft.sources.Tables._

/** The layout family: physical layouts that let a reader skip data
  * (z-order keys, zone maps, blooms, partition directories, dynamic
  * pruning) and the snapshot table format built on the reference's
  * partitioned reduce sink (sources/Snapshots.scala; the Delta shape of
  * Armbrust et al., VLDB 2020): versions, time travel, backfill,
  * OPTIMIZE, MERGE, DML, deletion vectors, constraints, change feeds and
  * schema evolution.
  *
  * The snapshot queries share three fixtures, each written once below:
  * the bucket table (per `(event_type, user_id % 100)` counts and exact
  * value sums, with its backfill history), the users-latest table (per
  * user the latest event, partitioned by `user_id % 4`) and the CDC fold
  * (a 3-way event split merged batch by batch). Their oracles share the
  * DuckDB twins of the first two as CTE fragments.
  */
object Layout {

  // ---- the bucket table: per (event_type, user_id % 100) ------------

  /** The bucket table of `src`: per `(event_type, user_id % 100)` the
    * event count `n_events` and, when `sums`, the exact value sum `sv`. */
  private[graft] def buckets(src: DataFrame, sums: Boolean = true): DataFrame =
    src.groupBy(col("event_type"), (col("user_id") % 100).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        (if (sums) Seq(sum(graft.Exact.dec(col("value"))).as("sv")) else Nil): _*)

  /** The DuckDB twin of [[buckets]]: CTE `name` over `from` (a table,
    * optionally with its WHERE clause), no trailing comma. */
  private[graft] def bucketCte(name: String, from: String,
      sums: Boolean = true): String =
    s"""$name AS (
  SELECT event_type, user_id % 100 AS bucket, count(*)::BIGINT AS n_events""" +
      (if (sums) ",\n    sum(CAST(value AS DECIMAL(38,10))) AS sv" else "") +
      s"""
  FROM $from GROUP BY 1, 2)"""

  /** The backfill's corrected rule: only the clicks of value >= 1.0. */
  private[graft] def correctedClicks(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click" && col("value") >= 1.0)

  /** A bucket table rolled up by `by`: buckets, events, the exact value
    * total when the table has `sv`, then `extra`. */
  private[graft] def rollup(df: DataFrame, by: Seq[String] = Seq("event_type"),
      extra: Seq[Column] = Nil): DataFrame = {
    val total =
      if (df.columns.contains("sv"))
        Seq(graft.Exact.decOut(sum(col("sv"))).as("total_value"))
      else Nil
    df.groupBy(by.map(col): _*).agg(count(lit(1)).as("n_buckets"),
      (sum("n_events").as("n_events") +: (total ++ extra)): _*)
  }

  /** The backfill history of the event_type-partitioned bucket table at
    * `dir`: v1 = the whole table, v2 = only the 'click' partition
    * recomputed under the corrected rule and rewritten, every other
    * partition carried into the v2 manifest by reference. Within one
    * session the table gains two versions per run; the returned (v1, v2)
    * pin this run's pair. */
  private def backfilled(s: SparkSession, dir: String, ev: DataFrame,
      sums: Boolean = true): (Long, Long) = {
    val v1 = Snapshots.commit(s, dir, buckets(ev, sums), "event_type")
    (v1, Snapshots.commitReplace(s, dir, buckets(correctedClicks(ev), sums),
      "event_type"))
  }

  /** Version `v` of the bucket table at `dir`, rolled up by event_type
    * and labelled `snapshot` (and `version_step`, when given). */
  private def rolledAt(s: SparkSession, dir: String, v: Long, label: String,
      step: Option[Long] = None): DataFrame =
    rollup(Snapshots.read(s, dir, "event_type", v)).select(
      (lit(label).as("snapshot") +: step.map(lit(_).as("version_step")).toSeq) ++
        Seq("event_type", "n_buckets", "n_events", "total_value").map(col): _*)

  /** [[bucketCte]]s `g` over `gFrom` and `gc` over the corrected
    * clicks, comma-joined, no trailing comma */
  private def bucketCtes(sums: Boolean, gFrom: String = "events"): String =
    bucketCte("g", gFrom, sums) + ",\n" +
      bucketCte("gc", "events WHERE event_type = 'click' AND value >= 1.0", sums)

  /** q_layout_timetravel's oracle, which q_layout_sql_timetravel shares */
  private val TimeTravelOracle = s"""WITH ${bucketCtes(sums = true)},
v2 AS (SELECT * FROM g WHERE event_type <> 'click' UNION ALL SELECT * FROM gc)
SELECT 'pre_backfill' AS snapshot, event_type, count(*)::BIGINT AS n_buckets,
  sum(n_events)::BIGINT AS n_events,
  CAST(round(sum(sv), 4) AS DOUBLE) AS total_value
FROM g GROUP BY event_type
UNION ALL
SELECT 'post_backfill' AS snapshot, event_type, count(*)::BIGINT AS n_buckets,
  sum(n_events)::BIGINT AS n_events,
  CAST(round(sum(sv), 4) AS DOUBLE) AS total_value
FROM v2 GROUP BY event_type
""".stripMargin

  // ---- the users-latest table: per user, partitioned by user_id % 4 ----

  /** events as (user_id, event_id, v) */
  private def userEvents(s: SparkSession, d: String): DataFrame =
    events(s, d).select(col("user_id"), col("event_id"), col("value").as("v"))

  /** per user of `ev`, the latest event_id and its value */
  private def latestPerUser(ev: DataFrame): DataFrame = ev.groupBy("user_id")
    .agg(max("event_id").as("event_id"),
      max_by(col("v"), col("event_id")).as("v"))

  private def withPart(df: DataFrame): DataFrame =
    df.withColumn("part", (col("user_id") % 4).cast("string"))

  /** The users-latest base table: per user the latest event, `part`. */
  private def users(s: SparkSession, d: String): DataFrame =
    withPart(latestPerUser(userEvents(s, d)))

  /** Seed the users table at `dir` with `base`: committed fragmented (8
    * round-robin tasks) with user_id bounds recorded, then, when
    * `cluster`, compacted CLUSTER BY user_id, so files carry narrow,
    * disjoint key ranges and a later DML's rewrite set stays small.
    * Returns the last version. */
  private def seedUsers(s: SparkSession, dir: String, base: DataFrame,
      cluster: Boolean = true): Long = {
    val v = Snapshots.commit(s, dir, base.repartition(8), "part",
      statsColumns = Seq("user_id"))
    if (!cluster) v
    else Snapshots.optimize(s, dir, "part",
      targetFileBytes = 1L << 20, clusterBy = Seq("user_id"))
  }

  /** The DuckDB twin of [[users]] (without `part`), no trailing comma. */
  private val UsersCte = """base AS (
  SELECT user_id, max(event_id) AS event_id, arg_max(value, event_id) AS v
  FROM events GROUP BY user_id)"""

  /** Turn deletion vectors on for the table at `dir` through its own
    * `graft.dv.enabled` property, leaving the session conf alone. The
    * property rides every later commit, so it is set once per table. */
  private def enableDv(s: SparkSession, dir: String): Unit =
    if (!Snapshots.tableProperties(s, dir).get(Snapshots.PropDvEnabled)
        .contains("true"))
      Snapshots.setTableProperty(s, dir, Snapshots.PropDvEnabled, "true"): Unit

  /** q_layout_dml's oracle, which q_layout_dml_sql and q_layout_catalog
    * share */
  private val DmlOracle = s"""WITH $UsersCte
SELECT user_id, event_id,
  CASE WHEN user_id >= 100 AND user_id < 200 THEN v * 2 ELSE v END AS v
FROM base WHERE NOT (user_id >= 300 AND user_id < 400)
""".stripMargin

  // ---- the CDC fold: a 3-way event split, merged batch by batch ------

  /** q_stream_upsert's tombstone rule: a key whose latest event_id is
    * a multiple of 29 is deleted */
  private def tombstone: Column =
    when(pmod(col("event_id"), lit(29)) === 0, lit("D")).otherwise(lit("U"))

  /** CDC batch `b` (events with event_id % 3 == b): the latest change
    * per user within the batch (the pre-reduced keyed delta Graft.merge
    * requires), with `part` and the tombstone rule's `op` */
  private def cdcBatch(ev: DataFrame, b: Int): DataFrame =
    withPart(latestPerUser(ev.filter(pmod(col("event_id"), lit(3)) === b)))
      .withColumn("op", tombstone)

  /** The CDC fold at `dir`: batch 0's upserts committed with user_id
    * bounds, then batches 1 until `batches`, each landing through the
    * FILE-GRAIN Snapshots.merge (which reads the previous version's
    * committed state itself, picks the rewrite set from the recorded
    * bounds, folds via Graft.merge and commits pinned). Returns the
    * versions, oldest first. */
  private[graft] def cdcFold(s: SparkSession, d: String, dir: String,
      batches: Int): Seq[Long] = {
    val ev = userEvents(s, d)
    val v1 = Snapshots.commit(s, dir,
      cdcBatch(ev, 0).filter(col("op") =!= "D").drop("op"), "part",
      statsColumns = Seq("user_id"))
    v1 +: (1 until batches).map(b =>
      Snapshots.merge(s, dir, "part", "user_id", cdcBatch(ev, b)))
  }

  /** the z-order key's DuckDB twin over xk/yk: 10 interleaved bit pairs */
  private def zkeySql: String = (0 until 10).map(i =>
    s"((xk >> $i) & 1) * ${1L << (2 * i)} + ((yk >> $i) & 1) * ${1L << (2 * i + 1)}")
    .mkString(" + ")

  val defs: Seq[QueryDef] = Seq(

    // Z-order layout key over (orderkey, partkey) low bits: rows sorted by
    // this key cluster in both dimensions at once, so file-level min/max
    // stats prune 2-D range scans. The oracle states the identical bit
    // interleave (generated term-by-term, pure integer arithmetic).
    QueryDef(
      "q_layout_zorder",
      s"""WITH k AS (
     SELECT l_orderkey, l_linenumber,
       l_orderkey % 1024 AS xk, l_partkey % 1024 AS yk
     FROM lineitem WHERE l_orderkey < 2000)
   SELECT l_orderkey, l_linenumber, xk, yk, $zkeySql AS zkey,
     ($zkeySql) // 16384 AS zbucket
   FROM k
   """.stripMargin) { (s, d) =>
      val withKeys = lineitem(s, d)
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_orderkey") % 1024).as("xk"), (col("l_partkey") % 1024).as("yk"))
      withKeys
        .withColumn("zkey", graft.api.Graft.zorderKey(col("xk"), col("yk"), 10))
        .withColumn("zbucket", expr("zkey div 16384"))
    },

    // Zone-map data skipping over the z-order-clustered layout: rows
    // bucketed into chunks by z-key range (the file/row-group boundary a
    // range-partitioned write would produce), one min/max zone row per
    // chunk on BOTH clustered dimensions, and a 2-D range predicate
    // evaluated against the zones — chunks whose zones can't overlap are
    // skipped before any "file" is read. The one summary row proves the
    // mechanic end to end: kept chunks ≪ total, scanned rows ≪ table,
    // and (zone soundness) every matching row lives in a kept chunk, so
    // the matched count over kept chunks equals the true count. This is
    // the file-stat pruning lever under q_layout_partition_prune's
    // directory pruning — at 100 TB the zones table is the only thing
    // the planner reads (chunks, not rows), and it aggregates map-side.
    QueryDef(
      "q_layout_zonemap",
      s"""WITH k AS (
     SELECT l_partkey % 1024 AS xk, l_suppkey % 1024 AS yk
     FROM lineitem),
   c AS (SELECT xk, yk, ($zkeySql) // 4096 AS chunk FROM k),
   z AS (
     SELECT chunk, min(xk) AS min_xk, max(xk) AS max_xk,
       min(yk) AS min_yk, max(yk) AS max_yk,
       count(*)::BIGINT AS n_rows,
       sum(CASE WHEN xk BETWEEN 96 AND 159 AND yk BETWEEN 2 AND 5
                THEN 1 ELSE 0 END)::BIGINT AS n_match
     FROM c GROUP BY chunk),
   kz AS (SELECT *,
     NOT (max_xk < 96 OR min_xk > 159 OR max_yk < 2 OR min_yk > 5) AS kept
     FROM z)
   SELECT count(*)::BIGINT AS n_chunks,
     sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_chunks_kept,
     sum(n_rows)::BIGINT AS n_rows,
     sum(CASE WHEN kept THEN n_rows ELSE 0 END)::BIGINT AS n_rows_scanned,
     sum(CASE WHEN kept THEN n_match ELSE 0 END)::BIGINT AS n_rows_matched
   FROM kz
   """.stripMargin) { (s, d) =>
      val k = lineitem(s, d).select(
        (col("l_partkey") % 1024).as("xk"), (col("l_suppkey") % 1024).as("yk"))
      val matched = col("xk").between(96, 159) && col("yk").between(2, 5)
      val zones = k
        .withColumn("zkey", graft.api.Graft.zorderKey(col("xk"), col("yk"), 10))
        .withColumn("chunk",
          expr("zkey div 4096") /* chunk = z-key range bucket */)
        .groupBy("chunk")
        .agg(min("xk").as("min_xk"), max("xk").as("max_xk"),
          min("yk").as("min_yk"), max("yk").as("max_yk"),
          count(lit(1)).as("n_rows"),
          sum(when(matched, 1L).otherwise(0L)).as("n_match"))
      val kept = !(col("max_xk") < 96 || col("min_xk") > 159 ||
        col("max_yk") < 2 || col("min_yk") > 5)
      zones.agg(count(lit(1)).as("n_chunks"),
        sum(when(kept, 1L).otherwise(0L)).as("n_chunks_kept"),
        sum(col("n_rows")).as("n_rows"),
        sum(when(kept, col("n_rows")).otherwise(0L)).as("n_rows_scanned"),
        sum(when(kept, col("n_match")).otherwise(0L)).as("n_rows_matched"))
    },

    // Bloom-filter data skipping — the EQUALITY rung of the skip ladder
    // (zonemaps prune ranges, partition dirs prune categories; a point
    // lookup on a high-cardinality scattered key defeats both, which is
    // why Parquet column blooms and Iceberg puffin files exist). Rows
    // chunk by ingestion order (l_orderkey div 64 ~ the row-group
    // boundary); each chunk summarizes its DISTINCT partkeys into a
    // 16x63-bit bloom (k=3 h60 hashes — 1008 positions for a ~250-key
    // chunk budget; at 100 TB the words-per-chunk constant scales with
    // the row-group's distinct budget, the shape doesn't change). A
    // probe key scans only chunks whose bloom holds ALL THREE of its
    // bits: candidates ~3-4x fewer than the table, and never a false
    // negative (n_true_chunks/n_hits count inside candidates only — a
    // missed true chunk would break the hash against the oracle's
    // bit-for-bit replay). Build = one distinct + one map-side-combined
    // bit_or aggregate; probe = 12 broadcast rows against the
    // chunk-sized bloom table — the planner reads blooms, never rows.
    QueryDef(
      "q_layout_bloomskip",
      """WITH ch AS (
  SELECT l_orderkey // 64 AS chunk, l_partkey FROM lineitem),
keys AS (SELECT DISTINCT chunk, l_partkey FROM ch),
pos AS (
  SELECT chunk,
    ('0x' || substr(md5('bl' || i::VARCHAR || ':' || l_partkey::VARCHAR), 1, 15))::BIGINT % 1008 AS p
  FROM keys, UNNEST([0, 1, 2]) u(i)),
bloom AS (
  SELECT chunk, p // 63 AS word, bit_or(1::BIGINT << (p % 63)::INTEGER) AS bits
  FROM pos GROUP BY 1, 2),
nrows AS (SELECT chunk, count(*)::BIGINT AS n_rows FROM ch GROUP BY chunk),
probe AS (SELECT unnest([7, 501, 1203, 1999]) AS pk),
ppos AS (
  SELECT pk, i,
    ('0x' || substr(md5('bl' || i::VARCHAR || ':' || pk::VARCHAR), 1, 15))::BIGINT % 1008 AS p
  FROM probe, UNNEST([0, 1, 2]) u(i)),
cand AS (
  SELECT pk, chunk FROM (
    SELECT pp.pk, b.chunk, count(*) AS hits3
    FROM ppos pp JOIN bloom b ON b.word = pp.p // 63
    WHERE (b.bits >> (pp.p % 63)::INTEGER) & 1 = 1
    GROUP BY pp.pk, b.chunk) x WHERE hits3 = 3),
truth AS (
  SELECT pk, chunk, count(*)::BIGINT AS n_hits
  FROM probe JOIN ch ON ch.l_partkey = pk GROUP BY pk, chunk)
SELECT c.pk AS probe_key,
  (SELECT count(*) FROM nrows)::BIGINT AS n_chunks,
  count(*)::BIGINT AS n_cand_chunks,
  count(t.chunk)::BIGINT AS n_true_chunks,
  sum(nr.n_rows)::BIGINT AS n_rows_scanned,
  coalesce(sum(t.n_hits), 0)::BIGINT AS n_hits
FROM cand c
JOIN nrows nr ON nr.chunk = c.chunk
LEFT JOIN truth t ON t.pk = c.pk AND t.chunk = c.chunk
GROUP BY c.pk
""".stripMargin) { (s, d) =>
      val ch = lineitem(s, d)
        .select(expr("l_orderkey div 64").as("chunk"), col("l_partkey"))
      val bloom = graft.api.Graft.bloomChunkIndex(
        ch, col("chunk"), col("l_partkey"))
      val nrows = ch.groupBy("chunk").agg(count(lit(1)).as("n_rows"))
      val nchunks = nrows.agg(count(lit(1)).as("n_chunks"))
      val probe = s.range(1)
        .select(explode(array(lit(7L), lit(501L), lit(1203L), lit(1999L)))
          .as("pk"))
      val cand = graft.api.Graft.bloomCandidates(bloom, probe)
      val truth = broadcast(probe).join(ch, col("l_partkey") === col("pk"))
        .groupBy("pk", "chunk").agg(count(lit(1)).as("n_hits"))
      cand.join(nrows, "chunk")
        .join(truth, Seq("pk", "chunk"), "left")
        .groupBy("pk")
        .agg(count(lit(1)).as("n_cand_chunks"),
          count(col("n_hits")).as("n_true_chunks"),
          sum(col("n_rows")).as("n_rows_scanned"),
          sum(coalesce(col("n_hits"), lit(0L))).as("n_hits"))
        .crossJoin(broadcast(nchunks))
        .select(col("pk").as("probe_key"), col("n_chunks"),
          col("n_cand_chunks"), col("n_true_chunks"),
          col("n_rows_scanned"), col("n_hits"))
    },

    // Storage-encoding advisor — the decision a columnar writer (Parquet
    // dict/RLE_DICTIONARY, ORC RLE) makes per column, surfaced as a
    // query: profile each column's cardinality and run structure in the
    // table's natural order and size PLAIN vs DICT vs RLE-on-dict-codes
    // with explicit integer cost models (64-bit cells, code width =
    // ceil(log2(n_distinct)) via length(bin(n-1)), 32-bit run lengths).
    // One NATIVE-TYPED leg per column (a stringified unpivot was the
    // first cut — 3M cast rows through one giant window, measured ~3x
    // slower): each leg is a lag window partitioned by chunk — never an
    // unpartitioned window — plus one partial-agg pass; chunk seams
    // start a fresh run, exactly as row groups do, and the oracle
    // states the same seam rule and the same (o1, o2, value) tie-break
    // per leg (the fixture's (orderkey, linenumber) is not unique).
    // The fixture shows both outcomes: scattered columns pick dict,
    // the clustered l_orderkey picks RLE. At 100 TB this is the
    // files-statistics pass a layout optimizer runs before rewriting a
    // table — runs partially aggregate map-side per chunk.
    QueryDef(
      "q_layout_encoding_advisor",
      """WITH agg AS (""" + "\n" +
        Seq("l_returnflag", "l_linestatus", "l_quantity", "l_partkey",
          "l_orderkey").map { c =>
          s"""  SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
         count(DISTINCT $c)::BIGINT AS n_distinct,
         sum(run_start)::BIGINT AS n_runs
       FROM (
         SELECT CASE WHEN lag($c) OVER (PARTITION BY l_orderkey // 64
                       ORDER BY l_orderkey, l_linenumber, $c)
                     IS DISTINCT FROM $c THEN 1 ELSE 0 END AS run_start, $c
         FROM lineitem) r""".stripMargin
        }.mkString("\nUNION ALL\n") +
      """),
sized AS (
  SELECT col_name, n_rows, n_distinct, n_runs,
    greatest(1, length(bin(n_distinct - 1)))::BIGINT AS code_bits,
    (n_rows * 64)::BIGINT AS est_plain_bits
  FROM agg),
est AS (
  SELECT col_name, n_rows, n_distinct, n_runs, est_plain_bits,
    (n_distinct * 64 + n_rows * code_bits)::BIGINT AS est_dict_bits,
    (n_distinct * 64 + n_runs * (code_bits + 32))::BIGINT AS est_rle_bits
  FROM sized)
SELECT col_name, n_rows, n_distinct, n_runs, est_plain_bits, est_dict_bits, est_rle_bits,
  CASE WHEN est_rle_bits <= est_dict_bits AND est_rle_bits <= est_plain_bits THEN 'rle_dict'
       WHEN est_dict_bits <= est_plain_bits THEN 'dict'
       ELSE 'plain' END AS recommended
FROM est
""".stripMargin) { (s, d) =>
      val li = lineitem(s, d)
      // one native-typed leg per column: the column's own lag window
      // partitioned by chunk with the (o1, o2, value) tie-break —
      // equal-value tie orders are interchangeable for run counting,
      // which is the invariance the registry's tie-break rule needs
      val agg = Seq("l_returnflag", "l_linestatus", "l_quantity",
          "l_partkey", "l_orderkey")
        .map { c =>
          val w = Window.partitionBy(expr("l_orderkey div 64"))
            .orderBy(col("l_orderkey"), col("l_linenumber"), col(c))
          li.select(col("l_orderkey"), col("l_linenumber"), col(c))
            .select(col(c),
              when(not(lag(col(c), 1).over(w) <=> col(c)), 1L)
                .otherwise(0L).as("run_start"))
            .agg(count(lit(1)).as("n_rows"),
              count_distinct(col(c)).as("n_distinct"),
              sum("run_start").as("n_runs"))
            .select(lit(c).as("col_name"), col("n_rows"),
              col("n_distinct"), col("n_runs"))
        }
        .reduce(_.unionAll(_))
      val sized = agg.select(col("col_name"), col("n_rows"),
        col("n_distinct"), col("n_runs"),
        greatest(lit(1), length(bin(col("n_distinct") - 1))).cast("long")
          .as("code_bits"),
        (col("n_rows") * 64).as("est_plain_bits"))
      val est = sized.select(col("col_name"), col("n_rows"),
        col("n_distinct"), col("n_runs"), col("est_plain_bits"),
        (col("n_distinct") * 64 + col("n_rows") * col("code_bits"))
          .as("est_dict_bits"),
        (col("n_distinct") * 64 + col("n_runs") * (col("code_bits") + 32))
          .as("est_rle_bits"))
      est.select(col("col_name"), col("n_rows"), col("n_distinct"),
        col("n_runs"), col("est_plain_bits"), col("est_dict_bits"),
        col("est_rle_bits"),
        when(col("est_rle_bits") <= col("est_dict_bits") &&
            col("est_rle_bits") <= col("est_plain_bits"), "rle_dict")
          .when(col("est_dict_bits") <= col("est_plain_bits"), "dict")
          .otherwise("plain").as("recommended"))
    },

    // Hive-style partitioned layout + partition-pruned read: orders
    // written partitionBy(o_orderstatus), read back with a status filter
    // — the scan's PartitionFilters skip 2 of 3 directory trees BEFORE
    // any file opens (directory-level pruning, the coarsest and cheapest
    // skip lever at 100 TB; file min/max zonemaps refine below it, see
    // q_layout_zorder). The pruned-scan property is asserted in
    // PlanShapeSpec; the oracle states the same aggregate over the
    // unpartitioned source, so a write that dropped or duplicated rows
    // across partition dirs breaks the hash too.
    QueryDef(
      "q_layout_partition_prune",
      """SELECT o_orderpriority,
  count(*) AS n_orders,
  CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,10))), 4) AS DOUBLE) AS revenue
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "part_orders")
      orders(s, d).write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(dir)
      s.read.parquet(dir)
        .filter(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          graft.Exact.decOut(sum(graft.Exact.dec(col("o_totalprice"))))
            .as("revenue"))
    },

    // DYNAMIC partition pruning — the RUNTIME member of the skip ladder
    // (static PartitionFilters prune q_layout_partition_prune's scan at
    // plan time; zonemaps/blooms skip at file grain; DPP prunes
    // partitions the planner cannot know): the fact table is written
    // hive-partitioned by event_type, and the filter arrives on a JOINED
    // dim column (class = 'conversion'), so only the dim's surviving
    // event_type values — discovered at runtime from the broadcast — are
    // scanned on the fact side. At 100 TB this is star-schema 101: the
    // date/region dim filter prunes the fact scan without the fact
    // filter ever being written. PlanShapeSpec asserts the fact scan
    // carries a dynamicpruning expression; the oracle states the plain
    // join aggregate (pruning must never change the answer).
    QueryDef(
      "q_layout_dpp",
      """WITH dim AS (
        |  SELECT * FROM (VALUES ('purchase', 'conversion'), ('signup', 'conversion'),
        |    ('click', 'engagement'), ('view', 'engagement'), ('error', 'ops'))
        |    AS t(event_type, class))
        |SELECT e.event_type, count(*)::BIGINT AS n_events,
        |  CAST(round(sum(CAST(e.value AS DECIMAL(38,10))), 4) AS DOUBLE) AS total_value
        |FROM events e JOIN dim d ON d.event_type = e.event_type
        |WHERE d.class = 'conversion'
        |GROUP BY e.event_type
        |""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "dpp_events")
      val marker = new java.io.File(dir, "fact/_SUCCESS")
      // write once per session: pass 2/3 of a bench run reuses the layout
      // (the partitioned WRITE is q_layout_partition_prune's story; this
      // entry prices the runtime-pruned read). The dim goes to parquet
      // too — DPP's pruning rule keys on a selective FILTER over a real
      // scan; an in-memory LocalRelation constant-folds its filter away
      // before the rule runs and no pruning subquery is ever inserted.
      if (!marker.exists()) {
        events(s, d).write.mode("overwrite")
          .partitionBy("event_type").parquet(s"$dir/fact")
        val sSpark = s
        import sSpark.implicits._
        Seq(("purchase", "conversion"), ("signup", "conversion"),
          ("click", "engagement"), ("view", "engagement"), ("error", "ops"))
          .toDF("event_type", "class")
          .write.mode("overwrite").parquet(s"$dir/dim")
      }
      s.read.parquet(s"$dir/fact")
        .join(broadcast(s.read.parquet(s"$dir/dim")
          .filter(col("class") === "conversion")), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          graft.Exact.decOut(sum(graft.Exact.dec(col("value")))).as("total_value"))
    },

    // Snapshot/time-travel read over the minimal table format
    // (sources/Snapshots.scala): v1 = full aggregate committed with the
    // atomic manifest rename; v2 = the BACKFILL commit — only the
    // 'click' partition recomputed under the corrected rule and
    // rewritten, every other partition carried into the v2 manifest BY
    // REFERENCE (zero data movement, the 100 TB repair shape — one
    // partition's rewrite cost, one small manifest's history cost).
    // The query then reads BOTH versions — the pre-backfill snapshot
    // via read-at-version N-1 AFTER v2 landed — and the oracle states
    // both states from the raw events, so every failure mode breaks
    // the hash: a v2 that clobbered v1's files (time travel returns
    // corrected data), a carry that dropped/duplicated an untouched
    // partition, a non-atomic commit surfacing a partial manifest.
    // The concurrent-reader isolation proof lives in SnapshotsSpec.
    QueryDef(
      "q_layout_timetravel",
      TimeTravelOracle) { (s, d) =>
      val dir = scratchDir(s, d, "snap_events")
      // the emitted labels are relative to this run's pair, so output
      // is stable however many runs the session made
      val (v1, v2) = backfilled(s, dir, events(s, d))
      // read v1 — version N-1 — AFTER the v2 backfill landed
      rolledAt(s, dir, v1, "pre_backfill")
        .unionByName(rolledAt(s, dir, v2, "post_backfill"))
    },

    // The snapshot format's SQL surface: the SAME two version reads as
    // q_layout_timetravel (whose oracle this shares verbatim), but every
    // READ is plain SQL text over `USING graft_snapshot` temp views with
    // VERSION AS OF pins (sources/SnapshotSource.scala) — what makes the
    // format consumable by a SQL-only user like every other q_sql_*
    // capability. The provider hands the planner the SAME manifest-served
    // HadoopFsRelation the Scala API plans (one FileSourceScan per
    // version, partition pruning, per-file bounds skipping — PlanShapeSpec
    // pins the SQL path's plan shape too), so the SQL surface costs
    // nothing over the native one.
    QueryDef(
      "q_layout_sql_timetravel",
      TimeTravelOracle) { (s, d) =>
      val dir = scratchDir(s, d, "snap_sql")
      // the WRITE path is the Scala API (SQL DML is out of the format's
      // scope); both READS below are pure SQL text
      val (v1, v2) = backfilled(s, dir, events(s, d))
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_snap_pre
        |USING graft_snapshot
        |OPTIONS (path '$dir', partCol 'event_type', versionAsOf '$v1')
        |""".stripMargin)
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_snap_post
        |USING graft_snapshot
        |OPTIONS (path '$dir', partCol 'event_type', versionAsOf '$v2')
        |""".stripMargin)
      // the analysed plan holds both relations: the views go once the
      // read is analysed
      try s.sql("""SELECT 'pre_backfill' AS snapshot, event_type,
        |  count(*) AS n_buckets, sum(n_events) AS n_events,
        |  CAST(round(sum(sv), 4) AS DOUBLE) AS total_value
        |FROM graft_snap_pre GROUP BY event_type
        |UNION ALL
        |SELECT 'post_backfill' AS snapshot, event_type,
        |  count(*) AS n_buckets, sum(n_events) AS n_events,
        |  CAST(round(sum(sv), 4) AS DOUBLE) AS total_value
        |FROM graft_snap_post GROUP BY event_type
        |""".stripMargin)
      finally Seq("graft_snap_pre", "graft_snap_post")
        .foreach(s.catalog.dropTempView)
    },

    // Incremental consumption of the versioned table — the change-feed
    // rung: Snapshots.diff compares two manifests by METADATA alone
    // (carry-by-reference lists the SAME immutable path for an untouched
    // partition in both, so it is excluded with zero IO) and scans ONLY
    // the rewritten partition's two states. Here the backfill rewrote
    // the 'click' partition, so the diff is exactly click-before
    // (change='removed') and click-after (change='added') — the oracle
    // states both from the raw events, and every other partition
    // appearing in the output (a broken carry, a spurious rewrite)
    // breaks the hash. The scan-boundedness itself (untouched dirs in
    // neither side's plan) is plan-asserted in SnapshotsSpec.
    QueryDef(
      "q_layout_incremental",
      s"""WITH ${bucketCtes(sums = true, gFrom = "events WHERE event_type = 'click'")}
SELECT 'removed' AS change, event_type, count(*)::BIGINT AS n_buckets,
  sum(n_events)::BIGINT AS n_events,
  CAST(round(sum(sv), 4) AS DOUBLE) AS total_value
FROM g GROUP BY event_type
UNION ALL
SELECT 'added' AS change, event_type, count(*)::BIGINT AS n_buckets,
  sum(n_events)::BIGINT AS n_events,
  CAST(round(sum(sv), 4) AS DOUBLE) AS total_value
FROM gc GROUP BY event_type
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_incr")
      val (v1, v2) = backfilled(s, dir, events(s, d))
      rollup(Snapshots.diff(s, dir, "event_type", v1, v2),
        by = Seq("change", "event_type"))
    },

    // OPTIMIZE-as-version: the nightly small-files compaction landing as
    // an atomic snapshot commit (Snapshots.optimize) — v1 is written
    // deliberately fragmented (8 round-robin tasks => up to 8 files per
    // partition dir), then compacted into v2 with every partition
    // rewritten bin-packed and nothing else moved. The oracle states the
    // SAME aggregate under both labels plus version_step = 1, so every
    // failure mode breaks the hash: compaction changing any row (labels
    // disagree), optimize not committing (step 0), optimize committing
    // more than once (step > 1). The physical claims — file count drops,
    // v1 still reads its own files — are pinned in SnapshotsSpec, where
    // file counts are observable.
    QueryDef(
      "q_layout_optimize",
      s"""WITH ${bucketCte("g", "events")},
r AS (
  SELECT event_type, count(*)::BIGINT AS n_buckets,
    sum(n_events)::BIGINT AS n_events,
    CAST(round(sum(sv), 4) AS DOUBLE) AS total_value
  FROM g GROUP BY event_type)
SELECT 'pre_optimize' AS snapshot, 0::BIGINT AS version_step,
  event_type, n_buckets, n_events, total_value FROM r
UNION ALL
SELECT 'post_optimize' AS snapshot, 1::BIGINT AS version_step,
  event_type, n_buckets, n_events, total_value FROM r
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_opt")
      // the small-files fixture: 8 round-robin tasks, so every partition
      // dir lands ~8 files (the streaming-sink debris OPTIMIZE exists for)
      val v1 = Snapshots.commit(s, dir, buckets(events(s, d)).repartition(8),
        "event_type")
      // clusterBy: the full OPTIMIZE-CLUSTER-BY shape — compaction plus
      // range-clustered output files (narrow per-file min/max on bucket);
      // content is provably unchanged because the oracle hash is
      // order-free, and the clustering itself is spec-pinned
      val v2 = Snapshots.optimize(s, dir, "event_type",
        clusterBy = Seq("bucket"))
      rolledAt(s, dir, v1, "pre_optimize", Some(0L))
        .unionByName(rolledAt(s, dir, v2, "post_optimize", Some(v2 - v1)))
    },

    // MERGE-as-version: the CDC fold landing through the FILE-GRAIN
    // Snapshots.merge (full-outer upsert with tombstones, rewrite set
    // chosen from recorded per-file key bounds), so every change batch
    // is an atomic version and an as-of read reconstructs any
    // intermediate state AFTER later batches landed — the format triad's
    // third write path (backfill = commitReplace, OPTIMIZE = optimize,
    // MERGE = this). Batches are a deterministic 3-way split of the
    // events log (batch b = events with event_id % 3 == b, reduced to
    // latest-per-key within the batch; latest event_id % 29 == 0 is the
    // tombstone, q_stream_upsert's rule). The kernel reads each previous
    // version's committed state itself, so the chain exercises
    // read -> file-select -> merge -> commit, not a cached frame. The
    // oracle ignores the version mechanics entirely and states both
    // prefix fixpoints from the raw log — per key, the LAST BATCH that
    // touched it wins, then latest-within-batch: a lost batch,
    // out-of-order apply, tombstone resurrection, or a version that read
    // stale files all break the hash. (The file-grain carry itself —
    // untouched files listed verbatim across a merge — is spec-pinned
    // where file identity is observable; q_layout_merge_selective below
    // oracles a key-localized merge.)
    QueryDef(
      "q_layout_merge",
      """WITH e AS (
  SELECT user_id, event_id, value AS v, event_id % 3 AS b FROM events),
perb AS (
  SELECT user_id, b, max(event_id) AS event_id, arg_max(v, event_id) AS v
  FROM e GROUP BY 1, 2),
mid AS (
  SELECT user_id, arg_max(event_id, b) AS event_id, arg_max(v, b) AS v,
         arg_max(event_id, b) % 29 = 0 AS del
  FROM perb WHERE b <= 1 GROUP BY user_id),
fin AS (
  SELECT user_id, arg_max(event_id, b) AS event_id, arg_max(v, b) AS v,
         arg_max(event_id, b) % 29 = 0 AS del
  FROM perb GROUP BY user_id)
SELECT 'mid_feed' AS snapshot, user_id, event_id, v FROM mid WHERE NOT del
UNION ALL
SELECT 'final' AS snapshot, user_id, event_id, v FROM fin WHERE NOT del
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_merge")
      // each merged batch reads the previous version's committed state,
      // so this oracle exercises the whole
      // read -> select-files -> merge -> commit loop, not a cached frame
      val Seq(v1, v2, v3) = cdcFold(s, d, dir, 3)
      assert(v2 == v1 + 1 && v3 == v2 + 1)
      def at(v: Long, label: String) =
        Snapshots.read(s, dir, "part", v)
          .select(lit(label).as("snapshot"), col("user_id"),
            col("event_id"), col("v"))
      // the as-of read: version N-1 reconstructed AFTER the feed finished
      at(v2, "mid_feed").unionByName(at(v3, "final"))
    },

    // Key-LOCALIZED merge over a clustered table — the file-grain rewrite
    // demonstrated end to end: the per-user state table is compacted
    // CLUSTER BY user_id (so files carry narrow disjoint key ranges in
    // the manifest), then a delta touching only keys [100, 200) folds in
    // via Snapshots.merge, whose rewrite set comes from those recorded
    // bounds — on this layout the out-of-range files (the bulk of the
    // table) are carried by reference, the 1%-of-keys => ~1%-of-files
    // cost a 100 TB upsert pipeline needs (file identity is spec-pinned;
    // this entry oracles the fold). The oracle states the final state
    // from the raw log: out-of-range users keep their latest event,
    // in-range users are negated (the deterministic update) unless their
    // latest event_id % 29 == 0 (tombstoned).
    QueryDef(
      "q_layout_merge_selective",
      s"""WITH $UsersCte
SELECT user_id, event_id, v FROM base
WHERE user_id < 100 OR user_id >= 200
UNION ALL
SELECT user_id, event_id, -v AS v FROM base
WHERE user_id >= 100 AND user_id < 200 AND event_id % 29 <> 0
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_mergesel")
      val v2 = seedUsers(s, dir, users(s, d))
      val delta = Snapshots.read(s, dir, "part", v2)
        .filter(col("user_id") >= 100 && col("user_id") < 200)
        .withColumn("v", -col("v"))
        .withColumn("op", tombstone)
      val v3 = Snapshots.merge(s, dir, "part", "user_id", delta)
      Snapshots.read(s, dir, "part", v3).select("user_id", "event_id", "v")
    },

    // RESTORE-as-version: the metadata-only rollback (Delta RESTORE) —
    // a bad backfill is undone by committing a NEW version that lists
    // the old version's files by reference (zero data movement at any
    // table size; the bad version stays auditable until vacuum).
    // The oracle states the corrected state AND the restored (original)
    // state from the raw events plus version_step = 1, so a restore
    // that rewrote data, landed on the wrong version, failed to commit,
    // or committed twice all break the hash. Feed emission and
    // vacuum-survival of restored files are spec-pinned.
    QueryDef(
      "q_layout_restore",
      s"""WITH ${bucketCtes(sums = true)},
v2 AS (SELECT * FROM g WHERE event_type <> 'click' UNION ALL SELECT * FROM gc)
SELECT 'corrected' AS snapshot, 1::BIGINT AS version_step, event_type,
  count(*)::BIGINT AS n_buckets, sum(n_events)::BIGINT AS n_events,
  CAST(round(sum(sv), 4) AS DOUBLE) AS total_value
FROM v2 GROUP BY event_type
UNION ALL
SELECT 'restored' AS snapshot, 1::BIGINT AS version_step, event_type,
  count(*)::BIGINT AS n_buckets, sum(n_events)::BIGINT AS n_events,
  CAST(round(sum(sv), 4) AS DOUBLE) AS total_value
FROM g GROUP BY event_type
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_restore")
      val (v1, v2) = backfilled(s, dir, events(s, d))
      // the rollback: one manifest write, v1's files by reference
      val v3 = Snapshots.restore(s, dir, "event_type", v1)
      rolledAt(s, dir, v2, "corrected", Some(1L))
        .unionByName(rolledAt(s, dir, v3, "restored", Some(v3 - v2)))
    },

    // Persisted CHECK constraints (Delta's ADD CONSTRAINT): the
    // constraint lives in the manifest header, every write path
    // re-validates its WRITTEN rows between write and rename, and a
    // violating commit is REFUSED — the table can never hold the row,
    // the version never exists. The query pins enforcement in the hash:
    // violations_refused = 1 comes from catching the refused bad
    // correction, and the final aggregate is the conforming one — a
    // format that let the bad batch through breaks both.
    QueryDef(
      "q_layout_constraint",
      s"""WITH ${bucketCtes(sums = false)},
v AS (SELECT * FROM g WHERE event_type <> 'click' UNION ALL SELECT * FROM gc)
SELECT event_type, count(*)::BIGINT AS n_buckets,
  sum(n_events)::BIGINT AS n_events, 3::BIGINT AS violations_refused
FROM v GROUP BY event_type
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_chk")
      def counts(src: DataFrame) = buckets(src, sums = false)
      val ev = events(s, d)
      Snapshots.commit(s, dir, counts(ev), "event_type")
      // pass 2/3 of a bench run reuses the table: the constraints are
      // already on it. All three KINDS ride the same header slot:
      // CHECK (SQL semantics: NULL passes), declared NOT NULL (NULL
      // violates), and UNIQUE-per-partition (written-rows key-group
      // cardinality) — each validated against the EXISTING table in one
      // pass at add time, then enforced between write and rename.
      val have = Snapshots.constraints(s, dir).map(_._1).toSet
      if (!have("chk_rows"))
        Snapshots.addConstraint(s, dir, "event_type", "chk_rows",
          "n_events > 0")
      if (!have("nn_events"))
        Snapshots.addNotNullConstraint(s, dir, "event_type", "nn_events",
          "n_events")
      if (!have("uq_bucket"))
        Snapshots.addUniqueConstraint(s, dir, "event_type", "uq_bucket",
          Seq("bucket"))
      val clicks = counts(ev.filter(col("event_type") === "click"))
      // three BAD corrections, one per constraint kind — every one must
      // be refused pre-commit (the table never holds a violating row)
      def refusedBy(marker: String)(df: DataFrame): Long =
        try { Snapshots.commitReplace(s, dir, df, "event_type"); 0L }
        catch {
          case e: IllegalArgumentException
              if e.getMessage.contains(marker) => 1L
        }
      val refused =
        refusedBy("chk_rows")(clicks.withColumn("n_events", -col("n_events"))) +
          refusedBy("nn_events")(clicks.withColumn("n_events",
            when(col("bucket") === 0, lit(null).cast("long"))
              .otherwise(col("n_events")))) +
          refusedBy("uq_bucket")(clicks.unionByName(clicks.limit(1)))
      // the GOOD correction satisfies all three kinds at once
      val vOk = Snapshots.commitReplace(s, dir, counts(correctedClicks(ev)),
        "event_type")
      rollup(Snapshots.read(s, dir, "event_type", vOk))
        .withColumn("violations_refused", lit(refused))
    },

    // DELETE WHERE + UPDATE WHERE as versions (Delta's DML pair): both
    // pick their rewrite set from recorded per-file bounds through the
    // SAME conservative logic the scan's file skipping uses — on the
    // user_id-clustered table, the delete rewrites only the files whose
    // bounds overlap [300, 400) and the update only [100, 200); every
    // provably-clean file (including clean files of touched partitions)
    // carries by reference (spec-pinned). The oracle states the final
    // state from the raw log: per-user latest, minus the deleted range,
    // with the updated range's value doubled.
    QueryDef(
      "q_layout_dml",
      DmlOracle) { (s, d) =>
      val dir = scratchDir(s, d, "snap_dml")
      seedUsers(s, dir, users(s, d))
      Snapshots.delete(s, dir, "part",
        col("user_id") >= 300 && col("user_id") < 400)
      val v4 = Snapshots.update(s, dir, "part",
        col("user_id") >= 100 && col("user_id") < 200,
        Map("v" -> (col("v") * 2)))
      Snapshots.read(s, dir, "part", v4).select("user_id", "event_id", "v")
    },

    // the SAME DML fold as PURE SQL TEXT (shares q_layout_dml's oracle
    // verbatim): DELETE FROM / UPDATE ... SET parse through Spark's own
    // parser and dispatch onto the identical bounds-selected rewrite
    // kernels (Snapshots.sql); the table is addressed by directory —
    // self-describing via the manifest's recorded partition column, no
    // catalog registration, the way Delta's path tables work. The final
    // read is the SQL surface too (VERSION AS OF via USING
    // graft_snapshot), so the whole query is SQL text end to end.
    // SnapshotSqlSpec pins that SQL and Scala DML rewrite the SAME file
    // sets; this query pins end-state equality under the oracle hash.
    QueryDef(
      "q_layout_dml_sql",
      DmlOracle) { (s, d) =>
      val dir = scratchDir(s, d, "snap_dmlsql")
      seedUsers(s, dir, users(s, d), cluster = false)
      Snapshots.sql(s, s"OPTIMIZE graft_snapshot.`$dir` ZORDER BY (user_id)")
      Snapshots.sql(s,
        s"DELETE FROM graft_snapshot.`$dir` " +
          "WHERE user_id >= 300 AND user_id < 400")
      Snapshots.sql(s,
        s"UPDATE graft_snapshot.`$dir` SET v = v * 2 " +
          "WHERE user_id >= 100 AND user_id < 200")
      val v4 = Snapshots.currentVersion(s, dir)
      val view = s"dmlsql_v_${math.abs(dir.hashCode)}"
      s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW $view
        USING graft_snapshot
        OPTIONS (path '$dir', partCol 'part', versionAsOf '$v4')""")
      try s.sql(s"SELECT user_id, event_id, v FROM $view")
      finally s.catalog.dropTempView(view): Unit
    },

    // Row-level DML under DELETION VECTORS (Delta's DV shape, opt-in
    // per table via its graft.dv.enabled property): needle deletes and
    // updates whose per-file hit fraction is small MASK rows in a sidecar
    // (old ∪ new ordinals, one parquet per commit under _manifests/dv)
    // instead of rewriting files — write amplification O(deleted rows),
    // not O(touched file bytes) — while every scan applies the mask as
    // a broadcast anti join on the parquet row position, inside
    // whole-stage codegen. The oracle states the end state from the raw
    // log; SnapshotDvSpec pins the mechanics (masks union, full-file
    // drops, the fraction policy, OPTIMIZE retiring masks, vacuum GC,
    // time travel).
    QueryDef(
      "q_layout_dv",
      s"""WITH $UsersCte
SELECT user_id, event_id,
  CASE WHEN user_id % 101 = 7 THEN v + 1 ELSE v END AS v
FROM base WHERE user_id % 97 <> 13
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_dv")
      seedUsers(s, dir, users(s, d))
      enableDv(s, dir)
      // ~1% needles per file: both land on the mask path, so the
      // touched files carry by reference with sidecar refs
      Snapshots.delete(s, dir, "part", col("user_id") % 97 === 13)
      Snapshots.update(s, dir, "part", col("user_id") % 101 === 7,
        Map("v" -> (col("v") + 1)))
      Snapshots.read(s, dir, "part").select("user_id", "event_id", "v")
    },

    // ROW-grain MERGE with an expression assignment list — the clause
    // shape the keyed-delta kernel refuses (`UPDATE SET v = t.v + s.adj`
    // needs matched-row addressability) now runs on the deletion-vector
    // base (Snapshots.mergeRows): matched old images are MASKED in their
    // files, the expression-folded new images and the unmatched inserts
    // append as fresh files, and file selection is the same key-bounds
    // intersection as the fast path — write amplification
    // O(matched + inserted rows), never O(touched file bytes). Clause
    // order is SQL's (first match wins: the tombstone DELETE shadows
    // the UPDATE). The oracle states the full fold from the raw log.
    QueryDef(
      "q_layout_merge_expr",
      s"""WITH $UsersCte
SELECT user_id, event_id,
  CASE WHEN user_id % 7 = 3 THEN v + user_id * 0.25 ELSE v END AS v
FROM base WHERE user_id % 11 <> 5
UNION ALL
SELECT user_id + 1000000 AS user_id, CAST(0 AS BIGINT) AS event_id,
  CAST(user_id AS DOUBLE) AS v
FROM base WHERE user_id % 13 = 1
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_mexpr")
      val base = users(s, d)
      seedUsers(s, dir, base)
      enableDv(s, dir)
      val src = base
        .filter(col("user_id") % 7 === 3 || col("user_id") % 11 === 5)
        .withColumn("adj", col("user_id") * 0.25)
        .withColumn("tomb", col("user_id") % 11 === 5)
        .unionByName(base.filter(col("user_id") % 13 === 1)
          .select((col("user_id") + 1000000L).as("user_id"),
            lit(0L).as("event_id"),
            col("user_id").cast("double").as("v"),
            pmod(col("user_id") + 1000000L, lit(4L)).cast("string").as("part"),
            lit(0.0).as("adj"), lit(false).as("tomb")))
      val view = s"mexpr_src_${math.abs(dir.hashCode)}"
      src.createOrReplaceTempView(view)
      try Snapshots.sql(s,
        s"""MERGE INTO graft_snapshot.`$dir` AS t USING $view AS s
            ON t.user_id = s.user_id
            WHEN MATCHED AND s.tomb THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = t.v + s.adj
            WHEN NOT MATCHED THEN INSERT *""")
      finally s.catalog.dropTempView(view): Unit
      Snapshots.read(s, dir, "part").select("user_id", "event_id", "v")
    },

    // the SAME DML fold addressed by CATALOG NAME end to end (shares
    // q_layout_dml's oracle verbatim): the table is created through
    // Spark's own CREATE TABLE DDL against the DSv2 GraftCatalog
    // (sources/GraftCatalog.scala — Delta's DeltaCatalog shape), every
    // DML statement targets `graft.lake.users` instead of a path, and
    // the final read is a catalog-name time travel (`VERSION AS OF`)
    // through Spark's analyzer, which the injected V1FallbackRule plans
    // as the IDENTICAL manifest-served scan the path form gets
    // (GraftCatalogSpec pins plan equality). Name resolution is pure
    // metadata — the catalog holds no state; directories + manifests
    // stay the single source of truth, so this query's cost is the DML
    // twin's cost plus nothing.
    QueryDef(
      "q_layout_catalog",
      DmlOracle) { (s, d) =>
      val wh = scratchDir(s, d, "cat_wh")
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val dir = s"$wh/lake/users"
      if (Snapshots.currentVersion(s, dir) < 1)
        s.sql("CREATE TABLE graft.lake.users (user_id BIGINT, " +
          "event_id BIGINT, v DOUBLE, part STRING) PARTITIONED BY (part)")
      seedUsers(s, dir, users(s, d), cluster = false)
      Snapshots.sql(s, "OPTIMIZE graft.lake.users ZORDER BY (user_id)")
      Snapshots.sql(s,
        "DELETE FROM graft.lake.users WHERE user_id >= 300 AND user_id < 400")
      Snapshots.sql(s,
        "UPDATE graft.lake.users SET v = v * 2 " +
          "WHERE user_id >= 100 AND user_id < 200")
      val v = Snapshots.currentVersion(s, dir)
      s.sql("SELECT user_id, event_id, v FROM graft.lake.users " +
        s"VERSION AS OF $v")
    },

    // FORMAT-NATIVE bloom skipping (r18) — the write-time twin of
    // q_layout_bloomskip's query-side index: `bloomColumns` records a
    // 16x63-bit k=3 h60 bloom PER FILE in the manifest's stats cells
    // (the Iceberg-puffin / Parquet-column-bloom role), and the
    // manifest file index consults it for equality predicates where
    // the recorded [min,max] bounds cannot prune (high-cardinality
    // digests interleaved across every file). SnapshotPartSpecSpec
    // pins the scan's numFiles dropping below the manifest count with
    // zero false negatives; this query pins RESULT exactness through
    // the oracle: per-user digests committed with blooms, then point
    // lookups — every present key found (zero false negatives by
    // construction), absent keys empty. The delete-no-op provability
    // and the numFiles drop are PLAN claims the oracle cannot see —
    // SnapshotPartSpecSpec pins both; at scale a saturated filter
    // degrades to scanning, never to a wrong answer (exactly this
    // hash, which is fixture-size-independent).
    QueryDef(
      "q_layout_bloom_native",
      """WITH base AS (
  SELECT user_id, md5('u' || CAST(user_id AS VARCHAR)) AS digest,
         sum(value) AS v
  FROM events GROUP BY user_id)
SELECT user_id, digest, CAST(round(CAST(v AS DECIMAL(38,10)), 4) AS DOUBLE) AS v
FROM base
WHERE digest IN (md5('u7'), md5('u123'), md5('u400'), md5('u9999991'))
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_bloom")
      val base = events(s, d)
        .groupBy("user_id")
        .agg(graft.Exact.dec(sum(graft.Exact.dec(col("value")))).as("vd"))
        .select(col("user_id"),
          md5(concat(lit("u"), col("user_id").cast("string"))).as("digest"),
          col("vd"))
        .withColumn("part", (col("user_id") % 2).cast("string"))
      Snapshots.commit(s, dir, base.repartition(8), "part",
        statsColumns = Seq("user_id"), bloomColumns = Seq("digest"))
      // exercise DML selection through the blooms too: a no-op where
      // the filters prove absence (the 1x case, spec-pinned), a
      // harmless content-identical rewrite where saturation cannot
      Snapshots.delete(s, dir, "part",
        col("digest") === md5(lit("u9999991")))
      val probes = Seq("u7", "u123", "u400", "u9999991")
        .map(u => graft.Exact.md5Hex(u))
      Snapshots.read(s, dir, "part")
        .filter(col("digest").isin(probes: _*))
        .select(col("user_id"), col("digest"),
          graft.Exact.decOut(col("vd")).as("v"))
    },

    // MERGE WHEN NOT MATCHED BY SOURCE (r18) — the dimension-
    // reconciliation shape: one statement syncs the users table to a
    // source window, updating matched rows, inserting new ones, and
    // EXPIRING target rows the source no longer carries (Delta's
    // by-source clause). Runs on the row-grain DV kernel: matched rows
    // join only bounds-affected files, the by-source anti join scans
    // every live file ONCE (stated honestly — the clause is
    // definitionally about all rows), and every claimed row is masked,
    // never rewritten — write amplification O(claimed + inserted). The
    // oracle states the same reconciliation from the raw log: the
    // source window is users 100-299's latest events; everyone outside
    // it with user_id >= 350 expires, 300-349 retag to v = -1.
    QueryDef(
      "q_layout_merge_bysource",
      s"""WITH $UsersCte,
src AS (SELECT user_id, v * 3 AS v FROM base
        WHERE user_id >= 100 AND user_id < 300)
SELECT b.user_id, b.event_id,
  CASE WHEN s.user_id IS NOT NULL THEN s.v
       WHEN b.user_id >= 300 AND b.user_id < 350 THEN -1.0
       ELSE b.v END AS v
FROM base b LEFT JOIN src s ON b.user_id = s.user_id
WHERE NOT (s.user_id IS NULL AND b.user_id >= 350)
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_mrbs")
      val base = users(s, d)
      seedUsers(s, dir, base, cluster = false)
      enableDv(s, dir)
      base.filter(col("user_id") >= 100 && col("user_id") < 300)
        .select(col("user_id"), (col("v") * 3).as("v"), col("part"))
        .createOrReplaceTempView("mrbs_window")
      try Snapshots.sql(s,
        s"""MERGE INTO graft_snapshot.`$dir` AS t
            USING mrbs_window AS w ON t.user_id = w.user_id
            WHEN MATCHED THEN UPDATE SET v = w.v
            WHEN NOT MATCHED BY SOURCE AND t.user_id >= 350 THEN DELETE
            WHEN NOT MATCHED BY SOURCE AND t.user_id >= 300
              THEN UPDATE SET v = -1.0""")
      finally s.catalog.dropTempView("mrbs_window"): Unit
      Snapshots.read(s, dir, "part").select("user_id", "event_id", "v")
    },

    // TYPED MULTI-COLUMN partition identity (r18): the table partitions
    // by (day DATE, region STRING) — the canonical 100 TB layout a
    // date-partitioned events table uses — instead of one synthetic
    // modulo string. The spec string "day:date,region" threads the
    // ordered typed identity through the whole format: the writer lays
    // out nested day=/region= dirs, each manifest entry records the
    // URL-encoded compound value, the manifest-served file index hands
    // the planner BOTH columns in their declared types (a DATE
    // comparison prunes partitions TYPED, not lexically — plan-asserted
    // in SnapshotPartSpecSpec), and DML span pruning treats each
    // partition column as a per-file lo=hi bound in its own type, so
    // the day-pinned DELETE and the (day, region)-pinned UPDATE below
    // rewrite only their own partitions' files while everything else
    // carries by reference. Legacy single-column tables stay
    // byte-identical; non-legacy manifests stamp minReader=3. The
    // oracle states the same fold from the raw log with the partition
    // columns derived in SQL.
    QueryDef(
      "q_layout_partition_typed",
      s"""WITH $UsersCte,
t AS (
  SELECT user_id, event_id, v,
    DATE '2024-01-01' + CAST(user_id % 3 AS INT) AS day,
    CASE WHEN user_id % 2 = 0 THEN 'eu' ELSE 'us' END AS region
  FROM base)
SELECT user_id, event_id,
  CASE WHEN day = DATE '2024-01-01' AND region = 'eu' THEN v * 2
       ELSE v END AS v,
  CAST(day AS VARCHAR) AS day, region
FROM t WHERE day <> DATE '2024-01-02'
""".stripMargin) { (s, d) =>
      val spec = "day:date,region"
      val dir = scratchDir(s, d, "snap_ptyped")
      val base = latestPerUser(userEvents(s, d))
        .withColumn("day", date_add(lit("2024-01-01").cast("date"),
          (col("user_id") % 3).cast("int")))
        .withColumn("region",
          when(col("user_id") % 2 === 0, "eu").otherwise("us"))
      Snapshots.commit(s, dir, base.repartition(8), spec,
        statsColumns = Seq("user_id"))
      // partition-pruned DML: the DELETE's predicate pins one day
      // partition (both-side typed bounds prove every other file
      // clean), the UPDATE pins one (day, region) pair
      Snapshots.delete(s, dir, spec,
        col("day") === lit(java.sql.Date.valueOf("2024-01-02")))
      val v = Snapshots.update(s, dir, spec,
        col("day") === lit(java.sql.Date.valueOf("2024-01-01")) &&
          col("region") === "eu",
        Map("v" -> (col("v") * 2)))
      Snapshots.read(s, dir, spec, v)
        .select(col("user_id"), col("event_id"), col("v"),
          col("day").cast("string").as("day"), col("region"))
    },

    // DESCRIBE HISTORY over the table format: every commit records its
    // operation + wall-clock in the manifest meta header, and history()
    // serves the audit view from manifests alone (one small read per
    // surviving version — kilobytes for a 100 TB table). The fixture
    // drives four DIFFERENT write paths; the oracle pins the op SEQUENCE
    // and each version's live partition count from the raw events —
    // a mislabeled op, a lost version, or a drop/restore that touched
    // the wrong partitions all break the hash.
    QueryDef(
      "q_layout_history",
      """SELECT 1::BIGINT AS step, 'commit' AS op,
  (SELECT count(DISTINCT event_type) FROM events)::INT AS n_partitions
UNION ALL
SELECT 2::BIGINT, 'replace',
  (SELECT count(DISTINCT event_type) FROM events)::INT
UNION ALL
SELECT 3::BIGINT, 'replace',
  (SELECT count(DISTINCT event_type) FROM events
   WHERE event_type <> 'error')::INT
UNION ALL
SELECT 4::BIGINT, 'restore',
  (SELECT count(DISTINCT event_type) FROM events)::INT
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_history")
      val ev = events(s, d)
      val (v1, _) = backfilled(s, dir, ev, sums = false)
      // delete-all of one partition: replace with an empty frame
      Snapshots.commitReplace(s, dir, buckets(ev, sums = false).limit(0),
        "event_type", Set("error"))
      Snapshots.restore(s, dir, "event_type", v1)
      Snapshots.history(s, dir)
        .filter(col("version") >= v1)
        .select((col("version") - v1 + 1).as("step"), col("op"),
          col("n_partitions"))
    },

    // ROW-level change feed (Delta CDF's row images): one keyed
    // full-outer join over just the changed partitions' two states turns
    // the partition feed into insert / delete / update_preimage /
    // update_postimage rows, suppressing rows that merely rode along in
    // a rewritten partition. Fixture = the first merge step of the CDC
    // fold (v1 = batch-0 upserts, v2 = batch-1 merged in); the oracle
    // restates every image class from the raw log: inserts = batch-1
    // keys absent from v1, deletes = tombstoned keys present in v1,
    // updates = common keys (batches are event-disjoint, so every
    // common key's latest event differs) with BOTH images stated.
    QueryDef(
      "q_layout_cdf_rows",
      """WITH e AS (
  SELECT user_id, event_id, value AS v, event_id % 3 AS b FROM events),
perb AS (
  SELECT user_id, b, max(event_id) AS event_id, arg_max(v, event_id) AS v
  FROM e WHERE b <= 1 GROUP BY 1, 2),
b0 AS (SELECT user_id, event_id, v FROM perb
       WHERE b = 0 AND event_id % 29 <> 0),
b1 AS (SELECT user_id, event_id, v, event_id % 29 = 0 AS del FROM perb
       WHERE b = 1),
up AS (
  SELECT b0.user_id, b0.event_id AS pre_eid, b0.v AS pre_v,
         b1.event_id AS post_eid, b1.v AS post_v
  FROM b0 JOIN b1 ON b0.user_id = b1.user_id
  WHERE NOT b1.del AND (b0.event_id <> b1.event_id OR b0.v <> b1.v))
SELECT 'insert' AS change, b1.user_id, b1.event_id, b1.v,
  CAST(b1.user_id % 4 AS VARCHAR) AS part
FROM b1 LEFT JOIN b0 ON b1.user_id = b0.user_id
WHERE b0.user_id IS NULL AND NOT b1.del
UNION ALL
SELECT 'delete' AS change, b0.user_id, b0.event_id, b0.v,
  CAST(b0.user_id % 4 AS VARCHAR) AS part
FROM b0 JOIN b1 ON b0.user_id = b1.user_id WHERE b1.del
UNION ALL
SELECT 'update_preimage' AS change, user_id, pre_eid AS event_id,
  pre_v AS v, CAST(user_id % 4 AS VARCHAR) AS part FROM up
UNION ALL
SELECT 'update_postimage' AS change, user_id, post_eid AS event_id,
  post_v AS v, CAST(user_id % 4 AS VARCHAR) AS part FROM up
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_cdfrows")
      val Seq(v1, v2) = cdcFold(s, d, dir, 2)
      Snapshots.diffRows(s, dir, "part", "user_id", v1, v2)
        .select("change", "user_id", "event_id", "v", "part")
    },

    // Schema evolution inside the format: v2 rewrites ONE partition
    // adding a column; carried partitions' files lack it and read back
    // NULL under v2's recorded header (parquet missing-column semantics —
    // the add-column evolution every real format supports, now a
    // manifest-header concern instead of a full rewrite), while v1 —
    // read AFTER v2 landed — still serves its own pre-evolution schema.
    // The oracle states both versions from the raw events; a type change
    // or column drop against carried files stays refused at commit
    // (spec-pinned).
    QueryDef(
      "q_layout_schema_evolution",
      s"""WITH ${bucketCtes(sums = false)}
SELECT 'pre_evolve' AS snapshot, event_type, count(*)::BIGINT AS n_buckets,
  sum(n_events)::BIGINT AS n_events, 0::BIGINT AS n_corrected
FROM g GROUP BY event_type
UNION ALL
SELECT 'post_evolve' AS snapshot, event_type, count(*)::BIGINT AS n_buckets,
  sum(n_events)::BIGINT AS n_events, count(*)::BIGINT AS n_corrected
FROM gc GROUP BY event_type
UNION ALL
SELECT 'post_evolve' AS snapshot, event_type, count(*)::BIGINT AS n_buckets,
  sum(n_events)::BIGINT AS n_events, 0::BIGINT AS n_corrected
FROM g WHERE event_type <> 'click' GROUP BY event_type
UNION ALL
SELECT 'post_rename' AS snapshot, event_type, count(*)::BIGINT,
  sum(n_events)::BIGINT, count(*)::BIGINT
FROM gc GROUP BY event_type
UNION ALL
SELECT 'post_rename' AS snapshot, event_type, count(*)::BIGINT,
  sum(n_events)::BIGINT, 0::BIGINT
FROM g WHERE event_type <> 'click' GROUP BY event_type
UNION ALL
SELECT 'post_drop' AS snapshot, event_type, count(*)::BIGINT,
  sum(n_events)::BIGINT, 0::BIGINT
FROM gc GROUP BY event_type
UNION ALL
SELECT 'post_drop' AS snapshot, event_type, count(*)::BIGINT,
  sum(n_events)::BIGINT, 0::BIGINT
FROM g WHERE event_type <> 'click' GROUP BY event_type
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_evolve")
      val ev = events(s, d)
      val v1 = Snapshots.commit(s, dir, buckets(ev, sums = false),
        "event_type")
      // the EVOLVING commit: only 'click' rewritten, with a NEW column —
      // every other partition's files are carried and must null-fill it
      val v2 = Snapshots.commitReplace(s, dir,
        buckets(correctedClicks(ev), sums = false)
          .withColumn("corrected", lit(1L)),
        "event_type")
      // count(<corrected>) counts NON-NULLS: the carried partitions'
      // null-filled column contributes zero — the evolution observable
      def rolled(df: DataFrame, label: String, corrected: Option[String]) =
        rollup(df, extra = corrected.map(c => count(col(c)).as("n_corrected")).toSeq)
          .select(lit(label).as("snapshot"), col("event_type"),
            col("n_buckets"), col("n_events"),
            corrected.fold(lit(0L).as("n_corrected"))(_ => col("n_corrected")))
      val pre = rolled(Snapshots.read(s, dir, "event_type", v1), "pre_evolve",
        None)
      val post = rolled(Snapshots.read(s, dir, "event_type", v2),
        "post_evolve", Some("corrected"))
      // RENAME as a version (column mapping: metadata-only, the field
      // keeps its id + physical name): the NEW name serves the SAME
      // data — carried null-fills included — while the pre-rename
      // version v2 still serves its own 'corrected'
      val v3 = Snapshots.renameColumn(s, dir, "corrected", "fixed")
      require(Snapshots.read(s, dir, "event_type", v2)
        .columns.contains("corrected"),
        "time travel must serve the pre-rename schema")
      val renamed = rolled(Snapshots.read(s, dir, "event_type", v3),
        "post_rename", Some("fixed"))
      // DROP as a version: the column leaves the schema (bytes stay in
      // the immutable files, unreachable — its physical name is retired)
      // and the remaining columns read back intact
      val v4 = Snapshots.dropColumn(s, dir, "fixed")
      val postDrop = Snapshots.read(s, dir, "event_type", v4)
      require(!postDrop.columns.contains("fixed") &&
        !postDrop.columns.contains("corrected"),
        "dropped column must leave the read schema")
      val droppedAgg = rolled(postDrop, "post_drop", None)
      pre.unionByName(post).unionByName(renamed).unionByName(droppedAgg)
    },

    // OPTIMIZE Z-ORDER end to end: the stored Morton key
    // (Graft.zorderKey over the two query dimensions, computed AT WRITE
    // TIME — real formats' Z-ORDER keeps the key, locality is a property
    // of the layout) drives OPTIMIZE CLUSTER BY zkey, which records each
    // rewritten file's [lo, hi] on zkey AND both raw dimensions in the
    // manifest; a later 2-D range query then skips files on those bounds
    // (both dimensions cluster at once — the win a 1-D sort cannot give;
    // the numFiles drop itself is spec-pinned where metrics are
    // observable). The oracle states the 2-D box aggregate from raw
    // events plus version_step = 1, so a compaction that changed any
    // row, failed to commit, or committed twice all break the hash.
    QueryDef(
      "q_layout_optimize_zorder",
      """WITH k AS (
  SELECT event_type, user_id % 1024 AS xk, event_id % 1024 AS yk, value
  FROM events)
SELECT event_type, 1::BIGINT AS version_step, count(*)::BIGINT AS n_events,
  CAST(round(sum(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE) AS total_value
FROM k WHERE xk BETWEEN 96 AND 159 AND yk BETWEEN 2 AND 5
GROUP BY event_type
""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "snap_zorder")
      val base = events(s, d)
        .select(col("event_type"),
          (col("user_id") % 1024).as("xk"),
          (col("event_id") % 1024).as("yk"),
          col("value"))
        .withColumn("zkey", graft.api.Graft.zorderKey(col("xk"), col("yk"), 10))
      val v1 = Snapshots.commit(s, dir, base.repartition(8), "event_type")
      val v2 = Snapshots.optimize(s, dir, "event_type",
        targetFileBytes = 1L << 20, clusterBy = Seq("zkey"),
        statsColumns = Seq("zkey", "xk", "yk"))
      Snapshots.read(s, dir, "event_type", v2)
        .filter(col("xk").between(96, 159) && col("yk").between(2, 5))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          graft.Exact.decOut(sum(graft.Exact.dec(col("value"))))
            .as("total_value"))
        .select(col("event_type"), lit(v2 - v1).as("version_step"),
          col("n_events"), col("total_value"))
    })
}
