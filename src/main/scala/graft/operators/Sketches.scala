package graft.operators

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Exact.h60
import graft.sources.Tables._

/** Mergeable-sketch operators beyond HLL (q_agg_approx_distinct) and
  * Misra-Gries (q_agg_heavy_hitters): a count-min frequency sketch, a
  * KMV (k-minimum-values) theta sketch for distinct counting, and exact
  * distinct counting via 64-bit bitmap segments — the three remaining
  * classic shapes of distributed cardinality/frequency summarization.
  * All hashes are Exact.h60 so the DuckDB oracle replays the sketch
  * construction bit-for-bit (the repo-wide sketch discipline); the
  * reference has no sketches at all — its only aggregate is the pairwise
  * WordCount fold (`app.py:13-14`).
  *
  * Scale design: a count-min sketch is a CONSTANT 4x1024 cell table built
  * by partial+final aggregation over (row, bucket) keys derived from the
  * per-token count aggregate (distinct tokens shuffle, never token
  * instances); KMV shuffles one 60-bit hash per distinct key and keeps k
  * per group; bitmap segments cap state at one long per 63-key range
  * per group (63, not 64 — the sign bit stays untouched, see the query
  * note). All three are algebraic, so map-side combine does the heavy
  * lifting and the final reduce sees bounded state.
  */
object Sketches {

  /** Count-min width (buckets per hash row) and depth (hash rows).
    * private[graft]: the streaming monitor (q_stream_countmin) maintains
    * the SAME cell geometry across micro-batches. */
  private[graft] val CmW = 1024
  private[graft] val CmD = 4

  /** KMV sketch size: the 8th-smallest hash bounds the estimate;
    * (k-1) * 2^60 stays inside a signed 64-bit long only for k <= 8. */
  private[graft] val KmvK = 8
  private[graft] val Kmv60 = 1152921504606846976L // 2^60, the h60 hash space
  private[graft] val KmvNum = 7L * Kmv60 // (k-1) * 2^60

  /** Join-cardinality sketch width: wider than the frequency sketch's
    * CmW because the inner-product estimator's bias is |A|*|B|/width —
    * the contract the spec asserts against. */
  private[graft] val JcW = 4096

  /** Shard fan-out of the sharded quantile-sketch build (q_agg_quantile
    * _sketch, q_agg_selectivity_approx). 64 here == 2 x local[32];
    * a real cluster raises it to executor count x a small factor. */
  private[graft] val NShards = 64

  /** The (grp, cents, shard) projection both sketch-backed entries
    * build over lineitem: extendedprice in integer cents, shard an h60
    * hash of the row key in [0, NShards). */
  private[graft] def centsSharded(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    lineitem(s, d).select(col("l_returnflag").as("grp"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
      (h60(concat(lit("qsh:"), col("l_orderkey"), lit(":"),
        col("l_linenumber"))) % NShards).as("shard"))

  /** The build stages alone — `geo, geo2, h0 .. h6` over an
    * already-defined CTE `v(grp, cents, shard)` — so any query can
    * sketch any value column (the curriculum entry sketches per-doc
    * LM scores) with the exact same replay text. Ends with a trailing
    * comma. */
  private[graft] val ShardedSketchStagesSql: String =
    """geo AS (
      |  SELECT grp, count(*)::BIGINT AS n,
      |    CASE WHEN (count(*) + 16383) // 16384 <= 1 THEN 0
      |      ELSE length(format('{:b}', (count(*) + 16383) // 16384 - 1)) END AS lv
      |  FROM v GROUP BY grp),
      |geo2 AS (SELECT grp, n, lv, (1::BIGINT << CAST(lv AS INTEGER)) AS two FROM geo),
      |h0 AS MATERIALIZED (
      |  SELECT grp, (r0 - c) // two AS j, cents AS v, two AS weight FROM (
      |    SELECT v.grp, v.cents, g.two,
      |      row_number() OVER (PARTITION BY v.grp, v.shard ORDER BY v.cents) - 1 AS r0,
      |      ('0x' || substr(md5('kll:' || v.grp || ':' || v.shard), 1, 15))::BIGINT % g.two AS c
      |    FROM v JOIN geo2 g USING (grp)) t
      |  WHERE r0 % two = c),
      |""".stripMargin +
    (1 to 6).map { k =>
      s"""h$k AS MATERIALIZED (
         |  SELECT grp, (r0 - b) // 2 AS j, v, weight * 2 AS weight FROM (
         |    SELECT grp, j, v, weight,
         |      row_number() OVER (PARTITION BY grp ORDER BY v, j) - 1 AS r0,
         |      ('0x' || substr(md5('kllh:' || grp || ':' || weight), 1, 15))::BIGINT % 2 AS b
         |    FROM h${k - 1}) t
         |  WHERE r0 % 2 = b),
         |""".stripMargin
    }.mkString

  /** Oracle-side replay of [[shardedQuantileSketch]] over
    * [[centsSharded]]: CTEs `v, geo, geo2, h0 .. h6` (64 shards,
    * cap 256), each halving materialized so DuckDB replays the exact
    * compaction cascade. Ends with a trailing comma — append read-off
    * CTEs and the final SELECT. Shared verbatim by every sketch-backed
    * oracle so the two engines can never drift on the build. */
  private[graft] val ShardedCentsSketchSql: String =
    """WITH v AS (
      |  SELECT l_returnflag AS grp,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
      |    ('0x' || substr(md5('qsh:' || l_orderkey || ':' || l_linenumber), 1, 15))::BIGINT % 64 AS shard
      |  FROM lineitem),
      |""".stripMargin + ShardedSketchStagesSql



  val defs: Seq[QueryDef] = Seq(

    // Join-size estimation from count-min inner products — the
    // optimizer-statistics primitive (AMS/count-min sketched join
    // cardinality): |A JOIN B on k| is SUM_k cntA(k)*cntB(k), and the
    // sketched estimate is min over hash rows j of SUM_b A(j,b)*B(j,b).
    // One-sided (collisions only add mass: est >= truth always) with
    // expected excess ~ |A|*|B|/width, emitted as bias_bound so the
    // consumer sees the estimator's contract next to its answer; the
    // spec asserts truth <= est <= truth + 3*bias. At scale both inputs
    // reduce to their per-key count aggregates (map-side combined) and
    // then to constant 4x4096 cell tables — the two tables never meet
    // in a row-level join, which is the point: the planner prices the
    // join without running it. Oracle replays cells and products
    // bit-for-bit (integer arithmetic throughout).
    QueryDef(
      "q_agg_join_cardinality",
      s"""WITH ca AS (SELECT user_id AS k, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
         |cb AS (SELECT o_custkey AS k, count(*)::BIGINT AS cnt FROM orders GROUP BY 1),
         |cea AS (
         |  SELECT j, ('0x' || substr(md5('jc' || j::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % $JcW AS b,
         |    sum(cnt)::BIGINT AS c
         |  FROM ca, UNNEST([0, 1, 2, 3]) u(j) GROUP BY 1, 2),
         |ceb AS (
         |  SELECT j, ('0x' || substr(md5('jc' || j::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % $JcW AS b,
         |    sum(cnt)::BIGINT AS c
         |  FROM cb, UNNEST([0, 1, 2, 3]) u(j) GROUP BY 1, 2),
         |ests AS (
         |  SELECT a.j, sum(a.c * b.c)::BIGINT AS e
         |  FROM cea a JOIN ceb b ON a.j = b.j AND a.b = b.b GROUP BY a.j),
         |truth AS (
         |  SELECT coalesce(sum(ca.cnt * cb.cnt), 0)::BIGINT AS true_size
         |  FROM ca JOIN cb ON ca.k = cb.k)
         |SELECT (SELECT min(e) FROM ests) AS est_size, t.true_size,
         |  ((SELECT sum(cnt) FROM ca) * (SELECT sum(cnt) FROM cb) // $JcW)::BIGINT AS bias_bound,
         |  (SELECT count(*) FROM ca)::BIGINT AS n_keys_a,
         |  (SELECT count(*) FROM cb)::BIGINT AS n_keys_b
         |FROM truth t
         |""".stripMargin) { (s, d) =>
      val ca = events(s, d).groupBy(col("user_id").as("k"))
        .agg(count(lit(1)).as("cnt"))
      val cb = orders(s, d).groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("cnt"))
      def cells(cnts: org.apache.spark.sql.DataFrame) = cnts
        .select(col("cnt"), explode(sequence(lit(0), lit(3))).as("j"), col("k"))
        .select(col("j"),
          (h60(concat(lit("jc"), col("j"), lit(":"), col("k"))) % JcW).as("b"),
          col("cnt"))
        .groupBy("j", "b").agg(sum("cnt").as("c"))
      val ests = cells(ca).withColumnRenamed("c", "ca")
        .join(cells(cb).withColumnRenamed("c", "cb"), Seq("j", "b"))
        .groupBy("j").agg(sum(col("ca") * col("cb")).as("e"))
        .agg(min("e").as("est_size"))
      val truth = ca.select(col("k"), col("cnt").as("na"))
        .join(cb.select(col("k"), col("cnt").as("nb")), "k")
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("true_size"))
      val bias = ca.agg(sum("cnt").as("sa"))
        .crossJoin(cb.agg(sum("cnt").as("sb")))
        .select(expr(s"(sa * sb) div $JcW").as("bias_bound"))
      val nk = ca.agg(count(lit(1)).as("n_keys_a"))
        .crossJoin(cb.agg(count(lit(1)).as("n_keys_b")))
      broadcast(ests).crossJoin(broadcast(truth))
        .crossJoin(broadcast(bias)).crossJoin(broadcast(nk))
        .select("est_size", "true_size", "bias_bound", "n_keys_a", "n_keys_b")
    },

    // Count-min sketch over the wordcount token stream: depth 4, width
    // 1024, cell(j, b) = total count of tokens hashing to b under row
    // j's hash. The estimate for a token is min over rows of its cell —
    // always >= the true count (collisions only ever inflate). Output
    // compares est vs truth for the 20 most frequent tokens; the
    // one-sided error contract est >= cnt is asserted in SketchesQualitySpec.
    QueryDef(
      "q_agg_countmin",
      s"""WITH tok AS (
         |  SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word FROM documents),
         |cnts AS (
         |  SELECT word, count(*)::BIGINT AS cnt FROM tok WHERE word <> '' GROUP BY word),
         |cells AS (
         |  SELECT j, ('0x' || substr(md5('cm' || j::VARCHAR || ':' || word), 1, 15))::BIGINT % $CmW AS b,
         |    sum(cnt)::BIGINT AS c
         |  FROM cnts, UNNEST([0, 1, 2, 3]) u(j) GROUP BY 1, 2),
         |top AS (SELECT word, cnt FROM cnts ORDER BY cnt DESC, word LIMIT 20)
         |SELECT t.word, t.cnt, min(cl.c) AS est
         |FROM top t, UNNEST([0, 1, 2, 3]) u(j)
         |JOIN cells cl ON cl.j = u.j
         |  AND cl.b = ('0x' || substr(md5('cm' || u.j::VARCHAR || ':' || t.word), 1, 15))::BIGINT % $CmW
         |GROUP BY t.word, t.cnt
         |""".stripMargin) { (s, d) =>
      val cnts = graft.api.Graft.wordCount(documents(s, d), "text")
      // sketch built from the count aggregate: per distinct token, one
      // (row, bucket, cnt) triple per hash row — token INSTANCES never
      // shuffle twice
      val cells = cnts
        .select(col("cnt"), explode(sequence(lit(0), lit(CmD - 1))).as("j"),
          col("word"))
        .select(col("j"),
          (h60(concat(lit("cm"), col("j"), lit(":"), col("word"))) % CmW).as("b"),
          col("cnt"))
        .groupBy("j", "b").agg(sum("cnt").as("c"))
      // top-20 via orderBy+limit = TakeOrderedAndProject (no global window)
      val top = cnts.orderBy(col("cnt").desc, col("word").asc).limit(20)
      top.select(col("word"), col("cnt"),
          explode(sequence(lit(0), lit(CmD - 1))).as("j"))
        .withColumn("b",
          h60(concat(lit("cm"), col("j"), lit(":"), col("word"))) % CmW)
        .join(cells, Seq("j", "b"))
        .groupBy("word", "cnt").agg(min("c").as("est"))
        .select("word", "cnt", "est")
    },

    // KMV (theta) sketch: distinct users per event type estimated from
    // the k smallest h60 hashes of the key universe seen by the group.
    // theta = the k-th smallest hash; est = (k-1) * 2^60 / theta (floor).
    // Groups with fewer than k distinct keys report the exact count.
    // Integer-exact: the oracle replays hash, rank, and floor division.
    QueryDef(
      "q_agg_kmv",
      s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
         |h AS (SELECT event_type, user_id,
         |  ('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 15))::BIGINT AS h FROM du),
         |r AS (SELECT event_type, h,
         |  row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn FROM h),
         |theta AS (SELECT event_type, h AS th FROM r WHERE rn = $KmvK),
         |ex AS (SELECT event_type, count(*)::BIGINT AS n_exact FROM du GROUP BY 1)
         |SELECT ex.event_type, ex.n_exact,
         |  CASE WHEN t.th IS NULL THEN ex.n_exact ELSE $KmvNum // t.th END AS est
         |FROM ex LEFT JOIN theta t USING (event_type)
         |""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val du = events(s, d).select("event_type", "user_id").distinct()
      val h = du.select(col("event_type"), col("user_id"),
        h60(concat(lit("kmv:"), col("user_id"))).as("h"))
      // per-group rank window (PARTITIONED — the k-th smallest hash per
      // group; state per partition is the group's distinct keys)
      val rn = row_number().over(
        Window.partitionBy("event_type").orderBy(col("h"), col("user_id")))
      val theta = h.withColumn("rn", rn).filter(col("rn") === KmvK)
        .select(col("event_type"), col("h").as("th"))
      val ex = du.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
      ex.join(theta, Seq("event_type"), "left")
        .select(col("event_type"), col("n_exact"),
          when(col("th").isNull, col("n_exact"))
            .otherwise(expr(s"$KmvNum div th")).as("est"))
    },

    // Theta-sketch SET ALGEBRA: union and intersection cardinality of
    // every event-type pair estimated purely from the per-type KMV
    // sketches (q_agg_kmv's k=8 sketches — 8 hashes per type, never the
    // key sets). Union: the k smallest hashes of sk_a ∪ sk_b give a new
    // theta; est = (k-1) * 2^60 // theta_u. Intersection: hashes present
    // in BOTH sketches below theta = least(th_a, th_b), scaled by
    // 2^60 // theta (floor-before-multiply keeps every term in a signed
    // long; the estimator's floor bias is < 1 part in 2^60 per unit and
    // both engines replay it bit-for-bit). Exact twins ride along for
    // inspection, union-exact via inclusion-exclusion — no second join.
    // At scale only the constant-size sketches cross partitions; the
    // pair grid is |types|^2 broadcast rows.
    QueryDef(
      "q_agg_kmv_setops",
      s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
         |h AS (SELECT event_type, user_id,
         |  ('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 15))::BIGINT AS h FROM du),
         |r AS (SELECT event_type, h,
         |  row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn FROM h),
         |sk AS (SELECT event_type, h FROM r WHERE rn <= $KmvK),
         |theta AS (SELECT event_type, h AS th FROM r WHERE rn = $KmvK),
         |ex AS (SELECT event_type, count(*)::BIGINT AS n FROM du GROUP BY 1),
         |pairs AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    a.th AS th_a, b.th AS th_b
         |  FROM theta a JOIN theta b ON a.event_type < b.event_type),
         |inter AS (
         |  SELECT p.type_a, p.type_b,
         |    sum(CASE WHEN sa.h < least(p.th_a, p.th_b) THEN 1 ELSE 0 END)::BIGINT AS c
         |  FROM pairs p
         |  JOIN sk sa ON sa.event_type = p.type_a
         |  JOIN sk sb ON sb.event_type = p.type_b AND sb.h = sa.h
         |  GROUP BY 1, 2),
         |uh AS (
         |  SELECT type_a, type_b, h,
         |    row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
         |  FROM (
         |    SELECT DISTINCT p.type_a, p.type_b, s.h
         |    FROM pairs p JOIN sk s
         |      ON s.event_type = p.type_a OR s.event_type = p.type_b)),
         |tu AS (SELECT type_a, type_b, h AS th_u FROM uh WHERE rn = $KmvK),
         |exi AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    count(*)::BIGINT AS n_inter
         |  FROM du a JOIN du b
         |    ON b.user_id = a.user_id AND a.event_type < b.event_type
         |  GROUP BY 1, 2)
         |SELECT p.type_a, p.type_b,
         |  coalesce(exi.n_inter, 0) AS n_inter_exact,
         |  coalesce(i.c, 0) * ($Kmv60 // least(p.th_a, p.th_b)) AS inter_est,
         |  ea.n + eb.n - coalesce(exi.n_inter, 0) AS n_union_exact,
         |  $KmvNum // tu.th_u AS union_est
         |FROM pairs p
         |JOIN tu ON tu.type_a = p.type_a AND tu.type_b = p.type_b
         |JOIN ex ea ON ea.event_type = p.type_a
         |JOIN ex eb ON eb.event_type = p.type_b
         |LEFT JOIN exi ON exi.type_a = p.type_a AND exi.type_b = p.type_b
         |LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
         |""".stripMargin) { (s, d) =>
      kmvSetOps(events(s, d).select("event_type", "user_id").distinct())
    },


    // Exact distinct counting via bitmap segments: users bucketed into
    // 64-wide ranges, each range's presence OR-ed into one long, distinct
    // count = sum of popcounts. The roaring-bitmap shape: mergeable,
    // constant per-segment state, exact — the middle ground between
    // count_distinct's full shuffle of keys and HLL's approximation.
    // Output carries the count_distinct twin; equality proves exactness.
    // Segments are 63 keys wide, not 64: bit 63 is the sign bit, and the
    // overflow-checked oracle rejects 1::BIGINT << 63 (Spark's shiftleft
    // would wrap silently — staying off the sign bit keeps both engines
    // on defined, identical arithmetic).
    QueryDef(
      "q_agg_bitmap",
      """WITH b AS (
        |  SELECT event_type, user_id // 63 AS seg,
        |    bit_or(1::BIGINT << (user_id % 63)::INTEGER) AS bits
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, sum(bit_count(bits))::BIGINT AS n_bitmap FROM b GROUP BY 1),
        |e AS (SELECT event_type, count(DISTINCT user_id) AS n_distinct FROM events GROUP BY 1)
        |SELECT e.event_type, e.n_distinct, c.n_bitmap FROM e JOIN c USING (event_type)
        |""".stripMargin) { (s, d) =>
      val ev = events(s, d)
      val bits = ev
        .select(col("event_type"), expr("user_id div 63").as("seg"),
          expr("shiftleft(1L, cast(user_id % 63 as int))").as("m"))
        .groupBy("event_type", "seg").agg(expr("bit_or(m)").as("bits"))
      val viaBitmap = bits.groupBy("event_type")
        .agg(sum(bit_count(col("bits"))).as("n_bitmap"))
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("n_distinct"))
      exact.join(viaBitmap, Seq("event_type"))
        .select("event_type", "n_distinct", "n_bitmap")
    },

    // Mergeable QUANTILE sketch — the member the sketch algebra was
    // missing (count-min prices frequency, KMV/HLL/bitmap cardinality,
    // MG heavy hitters; nothing summarized rank). KLL-shaped and
    // integer-deterministic: a cascade of fixed compactor levels where
    // level l sorts its items and keeps every second one, the kept
    // parity chosen by an h60 coin; over the SORTED multiset the whole
    // cascade collapses to one modular rank filter (keep ranks
    // ≡ c mod 2^L) — which is what lets the oracle replay every stage
    // bit-exactly.
    //
    // This entry is the SHARDED build (r11, on the round-10 kernels):
    // the sketch is assembled exactly the way a 1000-executor job
    // would — 64 deterministic shards (h60 of the row key) each build
    // their own constant-size partial under a rank window keyed by
    // (grp, SHARD), then log2(64) canonical halvings (quantileHalve's
    // merge coin) fold the union back to one shard's size bound. No
    // window ever partitions by l_returnflag alone: the only rank over
    // lineitem is (grp, shard)-keyed — 192 partitions here, and the
    // nShards knob scales that with the cluster — so no task sorts
    // more than ~n/192 rows where the old entry's 3-value key sorted
    // n/3. The streaming twin (q_stream_quantile) runs the identical
    // kernels per micro-batch; this is the batch half of that
    // architecture, sharing geometry law, coins, and merge topology.
    //
    // Geometry is canonical per group (smallest L landing the FINAL
    // sketch at <= 256 items given 64 shards), so the per-shard h0
    // output is <= 256 rows REGARDLESS of n. The rank-error CONTRACT
    // rides the output in the stream twin's form: the estimate's
    // true-rank interval [r_lo, r_hi] (counted exactly by one
    // broadcast-join aggregate over the base data — no window) must
    // sit within 4x the final sample weight of the target rank
    // t = pct*(n-1)//100, the 1-vs-k merge band SketchesQualitySpec
    // pins. Every rank quantity is exact integer arithmetic both
    // engines share; the halvings replay as materialized CTEs.
    //
    // Scale shape: pass 1 scans lineitem under the (grp, shard) rank
    // window; everything between is sketch-sized (<= 256 rows/group)
    // and broadcast; pass 2 scans lineitem once more for the audit as
    // a map-side-combined conditional aggregate against the broadcast
    // estimates. Reference provenance: the sort kernel this
    // approximates at scale is utilities.py:10-29 (the reference's
    // merge-sort comparator).
    QueryDef(
      "q_agg_quantile_sketch",
      ShardedCentsSketchSql +
      """m AS (SELECT grp, count(*)::BIGINT AS m FROM h6 GROUP BY grp),
        |rk AS (SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v, j) - 1 AS i FROM h6),
        |sel AS (
        |  SELECT m.grp, CAST(u.pct AS BIGINT) AS pct, m.m,
        |    (CAST(u.pct AS BIGINT) * (m.m - 1) + 50) // 100 AS i
        |  FROM m, UNNEST([1, 25, 50, 75, 99]) u(pct)),
        |est AS (SELECT sel.grp, sel.pct, sel.m, rk.v AS est FROM sel JOIN rk USING (grp, i)),
        |aud AS (
        |  SELECT e.grp, e.pct, e.m, e.est,
        |    sum(CASE WHEN v.cents < e.est THEN 1 ELSE 0 END)::BIGINT AS r_lo,
        |    sum(CASE WHEN v.cents <= e.est THEN 1 ELSE 0 END)::BIGINT AS r_le
        |  FROM est e JOIN v ON v.grp = e.grp GROUP BY 1, 2, 3, 4)
        |SELECT a.grp AS l_returnflag, a.pct, g.n, CAST(g.lv AS BIGINT) AS levels,
        |  g.two * 64 AS w_final, a.m AS m_sketch, a.est AS est_cents,
        |  a.r_lo, a.r_le - 1 AS r_hi,
        |  (a.pct * (g.n - 1)) // 100 AS t,
        |  g.two * 64 * 4 AS bound,
        |  ((a.pct * (g.n - 1)) // 100 >= a.r_lo - g.two * 64 * 4)
        |    AND ((a.pct * (g.n - 1)) // 100 <= a.r_le - 1 + g.two * 64 * 4) AS ok
        |FROM aud a JOIN geo2 g USING (grp)
        |""".stripMargin) { (s, d) =>
      val nSh = NShards
      val v = centsSharded(s, d)
      val (sk0, geo) = shardedQuantileSketch(v, nSh)
      val sk = sk0.localCheckpoint() // <= 256 rows/group; feeds m + read-off
      val m = sk.groupBy("grp").agg(count(lit(1)).as("m"))
      val est = quantileEstimate(sk, Seq(1, 25, 50, 75, 99))
      val aud = v.join(broadcast(est), Seq("grp"))
        .groupBy("grp", "pct", "est")
        .agg(sum(when(col("cents") < col("est"), 1L).otherwise(0L)).as("r_lo"),
          sum(when(col("cents") <= col("est"), 1L).otherwise(0L)).as("r_le"))
      aud.join(broadcast(m), "grp").join(broadcast(geo), "grp")
        .select(col("grp").as("l_returnflag"), col("pct"), col("n"),
          col("lv").as("levels"), (col("two") * nSh).as("w_final"),
          col("m").as("m_sketch"), col("est").as("est_cents"),
          col("r_lo"), (col("r_le") - 1).as("r_hi"),
          expr("(pct * (n - 1)) div 100").as("t"),
          (col("two") * nSh * 4).as("bound"),
          (expr("(pct * (n - 1)) div 100") >= col("r_lo") - col("two") * nSh * 4 &&
            expr("(pct * (n - 1)) div 100") <= col("r_le") - 1 + col("two") * nSh * 4)
            .as("ok"))
    }
  )

  /** The [[q_agg_quantile_sketch]] kernel as a per-shard operator: the
    * constant-size mergeable object a 1000-executor job builds per
    * shard and unions upward. `(grp, j, v, weight)` rows — every
    * 2^levels-th item of the per-group sorted order starting at the
    * h60-derived offset, each standing for 2^levels originals. Rank
    * error of reading any quantile off one sketch: < 2^levels. */
  private[graft] def quantileSketch(df: org.apache.spark.sql.DataFrame,
      grpCol: String, valCol: String, levels: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(levels >= 0 && levels < 40, "levels out of the sane band")
    val two = 1L << levels
    val v = df.select(col(grpCol).as("grp"), col(valCol).cast("long").as("v"))
    v.withColumn("r0", row_number().over(
        Window.partitionBy("grp").orderBy(col("v"))).cast("long") - 1)
      .withColumn("c", h60(concat(lit("kll:"), col("grp"))) % two)
      .filter(col("r0") % two === col("c"))
      .select(col("grp"), expr(s"(r0 - c) div ${two}L").as("j"), col("v"),
        lit(two).as("weight"))
  }

  /** One canonical compaction round over a (uniform-weight) sketch:
    * sort each group, keep the h60-coin parity, double the weight —
    * the merge half of the KLL shape. The coin keys on (grp, weight)
    * so successive rounds flip independently but deterministically. */
  private[graft] def quantileHalve(
      sk: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    sk.withColumn("r0", row_number().over(
        Window.partitionBy("grp").orderBy(col("v"), col("j"))).cast("long") - 1)
      .withColumn("b", h60(concat(lit("kllh:"), col("grp"), lit(":"),
        col("weight"))) % 2)
      .filter(col("r0") % 2 === col("b"))
      .select(col("grp"), expr("(r0 - b) div 2").as("j"), col("v"),
        (col("weight") * 2).as("weight"))
  }

  /** Merge k partial [[quantileSketch]]es (same `levels`): union, then
    * ceil(log2(k)) canonical halvings return the size to one shard's
    * bound with weight scaled to match. Bit-exact 1-vs-k equality is
    * information-theoretically impossible for ANY deterministic
    * rank-sampling summary (a shard's dropped ranks are gone), so —
    * exactly like [[graft.functions.HeavyHittersMerge]] — what merge
    * preserves is the CONTRACT: the rank-error band grows only with
    * the final weight, never with k or n (Agarwal et al.'s mergeable-
    * summaries argument), which SketchesQualitySpec pins 1-vs-k. */
  private[graft] def quantileMerge(
      parts: Seq[org.apache.spark.sql.DataFrame]): org.apache.spark.sql.DataFrame = {
    require(parts.nonEmpty, "quantileMerge needs at least one partial sketch")
    val u = parts.reduce(_.unionByName(_))
    val rounds =
      if (parts.size == 1) 0
      else 32 - Integer.numberOfLeadingZeros(parts.size - 1)
    (1 to rounds).foldLeft(u)((s, _) => quantileHalve(s))
  }

  /** The [[quantileSketch]]/[[quantileMerge]] pair fused into the ONE
    * pass a 1000-executor job runs: `v` carries (grp, cents, shard)
    * with `shard` a deterministic hash in [0, nShards); each
    * (grp, shard) builds its constant-size partial under a rank window
    * keyed by BOTH columns (cardinality |grps| * nShards — the
    * parallelism knob; partitionBy(grp) alone is the low-cardinality
    * window that dies at 100x), then log2(nShards) canonical
    * [[quantileHalve]] rounds fold the union back to one shard's size
    * bound. Geometry is canonical per group: the smallest L with
    * n / (2^L * nShards) <= cap final items — so the h0 partials are
    * <= cap rows per (grp, shard) REGARDLESS of n. Returns (sketch,
    * geo) where geo carries (grp, n, lv, two) for contract columns.
    * Final sample weight = 2^lv * nShards; the merged rank-error band
    * is 4x that weight (the 1-vs-k contract SketchesQualitySpec pins).
    */
  /** The sharded build's first stage alone — per-(grp, shard) rank
    * filter at the geometry-derived keep rate — exposed so the spec can
    * pin the composed-halving identity against the literal
    * [[quantileHalve]] cascade. */
  private[graft] def shardKept(v: org.apache.spark.sql.DataFrame,
      nShards: Int, cap: Int = 256):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(nShards >= 2 && (nShards & (nShards - 1)) == 0,
      "nShards must be a power of two >= 2")
    val target = cap.toLong * nShards
    val geo = v.groupBy("grp").agg(count(lit(1)).as("n"))
      .select(col("grp"), col("n"),
        when(expr(s"(n + ${target - 1}) div $target") <= 1, lit(0L))
          .otherwise(expr(s"length(bin((n + ${target - 1}) div $target - 1))")
            .cast("long")).as("lv"))
      .withColumn("two", expr("shiftleft(1L, cast(lv as int))"))
    val kept = v.join(broadcast(geo.select("grp", "two")), "grp")
      .withColumn("r0", row_number().over(
        Window.partitionBy("grp", "shard").orderBy(col("cents")))
        .cast("long") - 1)
      .withColumn("c",
        h60(concat(lit("kll:"), col("grp"), lit(":"), col("shard"))) % col("two"))
      .filter(col("r0") % col("two") === col("c"))
      .select(col("grp"), expr("(r0 - c) div two").as("j"),
        col("cents").as("v"), col("two").as("weight"))
    (kept, geo)
  }

  private[graft] def shardedQuantileSketch(v: org.apache.spark.sql.DataFrame,
      nShards: Int, cap: Int = 256):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val (kept, geo) = shardKept(v, nShards, cap)
    val rounds = 32 - Integer.numberOfLeadingZeros(nShards - 1)
    // The log2(nShards) canonical halvings COMPOSE into one rank window.
    // After the first halve, the emitted j is the survivor's position
    // index — unique per group — so every later round's (v, j) order IS
    // the previous round's position order, and "keep positions ≡ b_l
    // (mod 2) of the current list" telescopes: a row of the ORIGINAL
    // kept order (position p, ranked by (v, j); ties are bit-identical
    // rows, so tie order is immaterial) survives all `rounds` halvings
    // iff p ≡ Σ_l 2^(l-1)·b_l (mod 2^rounds), with final position
    // (p - c) / 2^rounds and weight·2^rounds — where b_l is the same
    // per-(grp, weight-at-level-l) h60 coin the literal cascade draws.
    // One exchange+sort instead of `rounds` of them; value-identical to
    // the h1..h6 stages the oracle replays (identity pinned in
    // SketchesQualitySpec against the literal quantileHalve cascade).
    val mod = 1L << rounds
    val cSum = (1 to rounds).map { l =>
      (h60(concat(lit("kllh:"), col("grp"), lit(":"),
        col("weight") * lit(1L << (l - 1)))) % 2) * lit(1L << (l - 1))
    }.reduce(_ + _)
    val halved = kept
      .withColumn("p", row_number().over(
        Window.partitionBy("grp").orderBy(col("v"), col("j")))
        .cast("long") - 1)
      .withColumn("cc", cSum)
      .filter(col("p") % mod === col("cc"))
      .select(col("grp"), expr(s"(p - cc) div $mod").as("j"), col("v"),
        (col("weight") * mod).as("weight"))
    (halved, geo)
  }

  /** Read quantiles (integer percents) off a uniform-weight sketch:
    * with every kept item standing for the same mass, quantile pct is
    * the kept item at index pct%-of-(m-1), rounded — groups-x-pcts
    * output, one tiny window over the constant-size sketch. */
  private[graft] def quantileEstimate(sk: org.apache.spark.sql.DataFrame,
      pcts: Seq[Int]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = sk.withColumn("i", row_number().over(
      Window.partitionBy("grp").orderBy(col("v"), col("j"))).cast("long") - 1)
    val m = sk.groupBy("grp").agg(count(lit(1)).as("m"))
    m.select(col("grp"), col("m"),
        explode(array(pcts.map(p => lit(p.toLong)): _*)).as("pct"))
      .withColumn("i", expr("(pct * (m - 1) + 50) div 100"))
      .join(ranked, Seq("grp", "i"))
      .select(col("grp"), col("pct"), col("v").as("est"))
  }

  /** The theta-sketch set-algebra kernel behind q_agg_kmv_setops,
    * factored over any (event_type, user_id) distinct-pair relation so
    * tests can drive it on synthetic, PARTIALLY overlapping key sets
    * (the fixture's event-type key sets are identical — a degenerate
    * case the unit suite notes explicitly). */
  private[graft] def kmvSetOps(
      du0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val du = du0.localCheckpoint()
      val h = du.select(col("event_type"), col("user_id"),
        h60(concat(lit("kmv:"), col("user_id"))).as("h"))
      val rn = row_number().over(
        Window.partitionBy("event_type").orderBy(col("h"), col("user_id")))
      val ranked = h.withColumn("rn", rn).localCheckpoint() // 5 sketches
      val sk = ranked.filter(col("rn") <= KmvK).select("event_type", "h")
      val theta = ranked.filter(col("rn") === KmvK)
        .select(col("event_type"), col("h").as("th"))
      val ex = du.groupBy("event_type").agg(count(lit(1)).as("n"))
      // |types|^2 grid of constant-size sketch summaries — broadcast-tiny
      val pairs = theta.select(col("event_type").as("type_a"), col("th").as("th_a"))
        .crossJoin(broadcast(
          theta.select(col("event_type").as("type_b"), col("th").as("th_b"))))
        .filter(col("type_a") < col("type_b"))
      val inter = pairs
        .join(sk.select(col("event_type").as("type_a"), col("h")), Seq("type_a"))
        .join(sk.select(col("event_type").as("type_b"), col("h")),
          Seq("type_b", "h"))
        .groupBy("type_a", "type_b")
        .agg(sum(when(col("h") < least(col("th_a"), col("th_b")), 1L)
          .otherwise(0L)).as("c"))
      // union sketch: pair-tag each side's hashes by equi-join, then rank
      val skA = pairs.select("type_a", "type_b")
        .join(sk.select(col("event_type").as("type_a"), col("h")), Seq("type_a"))
      val skB = pairs.select("type_a", "type_b")
        .join(sk.select(col("event_type").as("type_b"), col("h")), Seq("type_b"))
      val thetaU = skA.select("type_a", "type_b", "h")
        .unionByName(skB.select("type_a", "type_b", "h")).distinct()
        .withColumn("rn", row_number().over(
          Window.partitionBy("type_a", "type_b").orderBy(col("h"))))
        .filter(col("rn") === KmvK)
        .select(col("type_a"), col("type_b"), col("h").as("th_u"))
      val exInter = du.select(col("event_type").as("type_a"), col("user_id"))
        .join(du.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_inter"))
      pairs
        .join(thetaU, Seq("type_a", "type_b"))
        .join(ex.select(col("event_type").as("type_a"), col("n").as("n_a")),
          Seq("type_a"))
        .join(ex.select(col("event_type").as("type_b"), col("n").as("n_b")),
          Seq("type_b"))
        .join(exInter, Seq("type_a", "type_b"), "left")
        .join(inter, Seq("type_a", "type_b"), "left")
        .select(col("type_a"), col("type_b"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter_exact"),
          (coalesce(col("c"), lit(0L)) *
            expr(s"$Kmv60 div least(th_a, th_b)")).as("inter_est"),
          (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L)))
            .as("n_union_exact"),
          expr(s"$KmvNum div th_u").as("union_est"))
  }
}
