package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.QueryDef
import graft.operators.Sketches
import graft.sources.Tables._

/** Advanced aggregation coverage: grouping sets, ordered collections,
  * exact percentiles, argmax, moment statistics. The reference's only
  * aggregate is the generic pairwise fold (`utilities.py:170-185`); these
  * are the library aggregates a user would expect on top.
  */
object Aggregates {

  val defs: Seq[QueryDef] = Seq(

    QueryDef(
      "q_agg_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |""".stripMargin) { (s, d) =>
      // two-phase: pre-aggregate to base groups, then expand (see
      // q_agg_rollup — avoids the Expand row-multiplication over the fact)
      lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("pn"),
          sum(col("l_quantity").cast(DecimalType(38, 10))).as("ps"))
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("pn")).as("n"), graft.Exact.decOut(sum(col("ps"))).as("sum_qty"))
    },

    // Ordered collection aggregates: sort_array makes collect_set/list
    // deterministic (bare collect_* order is partitioning-dependent).
    QueryDef(
      "q_agg_collect",
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',') AS segments,
        |  string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS seg_csv
        |FROM customer GROUP BY c_nationkey
        |""".stripMargin) { (s, d) =>
      // csv projection, not a raw array column: the driver's pandas-side
      // sort can't order ndarray cells (and a list column can't hash).
      customer(s, d)
        .groupBy("c_nationkey")
        .agg(
          concat_ws(",", sort_array(collect_set(col("c_mktsegment")))).as("segments"),
          concat_ws(",", sort_array(collect_list(col("c_mktsegment")))).as("seg_csv"))
    },

    // Exact interpolating median/percentiles (Spark `percentile` ==
    // DuckDB `quantile_cont` on doubles).
    QueryDef(
      "q_agg_median",
      """SELECT l_returnflag,
        |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS med_qty,
        |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9) AS p90_price
        |FROM lineitem GROUP BY l_returnflag
        |""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("med_qty"),
          expr("percentile(l_extendedprice, 0.9)").as("p90_price"))
    },

    // Scalable EXACT quantiles by rank selection: one window shuffle per
    // group, O(1) memory per row — unlike `percentile` (q_agg_median),
    // which accumulates a value->count map per group and cannot survive a
    // billion-distinct-value group at 100 TB. Discrete (type-1) quantiles:
    // rank ceil(p*n) via integer arithmetic, no float interpolation, so
    // both engines select the identical element.
    QueryDef(
      "q_agg_quantile_rank",
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity ASC) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_vals,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN l_quantity END) AS median_disc,
        |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN l_quantity END) AS p90_disc
        |FROM r GROUP BY 1
        |""".stripMargin) { (s, d) =>
      // group sizes via a tiny pre-aggregate + broadcast join, not a
      // second whole-partition window pass over the fact rows
      val byVal = Window.partitionBy("l_returnflag").orderBy(col("l_quantity").asc)
      val li = lineitem(s, d).select(col("l_returnflag"), col("l_quantity"))
      val sizes = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      li.join(broadcast(sizes), "l_returnflag")
        .withColumn("rn", row_number().over(byVal))
        .groupBy("l_returnflag")
        .agg(max(col("n")).as("n_vals"),
          max(when(col("rn") === expr("(n + 1) div 2"), col("l_quantity"))).as("median_disc"),
          max(when(col("rn") === expr("(9 * n + 9) div 10"), col("l_quantity"))).as("p90_disc"))
    },

    // Approximate percentile, checked via its rank contract (like the HLL
    // query): the t-digest result's rank share must sit inside a generous
    // band around 0.5. The approximate value itself never leaves the
    // query — only the exact count and the contract verdict.
    QueryDef(
      "q_agg_approx_percentile",
      """SELECT l_returnflag, count(*) AS n, true AS median_rank_ok
        |FROM lineitem GROUP BY 1
        |""".stripMargin) { (s, d) =>
      val ap = lineitem(s, d).groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_quantity, 0.5, 1000)").as("amed"))
      lineitem(s, d).select("l_returnflag", "l_quantity")
        .join(broadcast(ap), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          (sum(when(col("l_quantity") <= col("amed"), 1L).otherwise(0L)).cast("double")
            / count(lit(1))).between(0.45, 0.55).as("median_rank_ok"))
    },

    // Bivariate statistics: sample covariance and least-squares slope/
    // intercept, floor-scaled to micro-units like q_agg_stats_moments.
    // Timed since r13 (exclusions must be recorded or removed).
    QueryDef(
      "q_agg_regression",
      (s: org.apache.spark.sql.SparkSession, d: String) => {
        lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            floor(covar_samp(col("l_quantity"), col("l_extendedprice")) / 1000 * 1000000)
              .as("covar_mu"),
            floor(regr_slope(col("l_extendedprice"), col("l_quantity")) * 1000000)
              .as("slope_u"),
            floor(regr_intercept(col("l_extendedprice"), col("l_quantity")) * 1000000)
              .as("icept_u"))
      },
      Some("""SELECT l_returnflag,
        |  CAST(floor(covar_samp(l_quantity, l_extendedprice) / 1000 * 1000000) AS BIGINT) AS covar_mu,
        |  CAST(floor(regr_slope(l_extendedprice, l_quantity) * 1000000) AS BIGINT) AS slope_u,
        |  CAST(floor(regr_intercept(l_extendedprice, l_quantity) * 1000000) AS BIGINT) AS icept_u
        |FROM lineitem GROUP BY 1
        |""".stripMargin)),

    // Mode (most frequent value) per group, deterministic under ties via
    // max(struct(count, value)) — one extra aggregation, no window.
    // Timed since r13 (exclusions must be recorded or removed).
    QueryDef(
      "q_agg_mode",
      (s: org.apache.spark.sql.SparkSession, d: String) => {
        lineitem(s, d)
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("c"))
          .groupBy("l_returnflag")
          .agg(max(struct(col("c"), col("l_quantity"))).as("m"))
          .select(col("l_returnflag"), col("m.l_quantity").as("mode_qty"),
            col("m.c").as("mode_count"))
      },
      Some("""SELECT l_returnflag, mode_qty, mode_count FROM (
        |  SELECT l_returnflag, l_quantity AS mode_qty, count(*) AS mode_count,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, l_quantity DESC) AS rn
        |  FROM lineitem GROUP BY l_returnflag, l_quantity) t
        |WHERE rn = 1
        |""".stripMargin)),

    // Weighted average: decimal-exact numerator and denominator, one
    // final double division — the quantity-weighted price per flag.
    QueryDef(
      "q_agg_weighted_avg",
      """SELECT l_returnflag,
        |  CAST(round(sum(CAST(l_extendedprice * l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE)
        |    / CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 4) AS DOUBLE) AS wavg_price
        |FROM lineitem GROUP BY 1
        |""".stripMargin) { (s, d) =>
      import graft.Exact.{dec, decOut}
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg((decOut(sum(dec(col("l_extendedprice") * col("l_quantity"))))
          / decOut(sum(dec(col("l_quantity"))))).as("wavg_price"))
    },

    // Fixed-width histogram per group: bucket = floor(v / width) clamped —
    // the distribution-profiling aggregate. floor of one correctly-rounded
    // division is engine-exact.
    QueryDef(
      "q_agg_histogram",
      """SELECT l_returnflag,
        |  CAST(least(greatest(floor(l_quantity / 5.0), 0), 9) AS INT) AS bucket,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2
        |""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"),
          least(greatest(floor(col("l_quantity") / 5.0), lit(0)), lit(9))
            .cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"))
    },

    // Equi-DEPTH histogram (the optimizer-statistics primitive, next to
    // q_agg_histogram's equi-width buckets): ntile(8) over a fully
    // tie-broken order splits each group into near-equal-count tiles;
    // per tile count/lo/hi summarize the distribution with bounded
    // error regardless of skew. One rank window per group (the exact-
    // quantile shape that survives billion-row groups) + one aggregate.
    // ntile's front-loaded remainder split is deterministic given a
    // total order — the unique (quantity, orderkey, linenumber) key
    // makes both engines cut identical tiles.
    QueryDef(
      "q_agg_histogram_eqdepth",
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity,
        |    ntile(8) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS tile
        |  FROM lineitem)
        |SELECT l_returnflag, tile, count(*)::BIGINT AS n,
        |  min(l_quantity) AS lo, max(l_quantity) AS hi
        |FROM r GROUP BY 1, 2
        |""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_quantity"),
          ntile(8).over(Window.partitionBy("l_returnflag")
            .orderBy(col("l_quantity"), col("l_orderkey"),
              col("l_linenumber"))).as("tile"))
        .groupBy("l_returnflag", "tile")
        .agg(count(lit(1)).as("n"),
          min("l_quantity").as("lo"), max("l_quantity").as("hi"))
    },

    // The 100 TB twin of q_agg_histogram_eqdepth (r11): the same
    // 8-bucket equi-depth summary READ OFF the sharded mergeable
    // quantile sketch instead of the whole-group ntile rank — bucket b
    // holds the kept items at index i with i*8//m = b-1, each standing
    // for w_final originals, lo/hi from the kept values. cnt_est is
    // exact*weight integer arithmetic; the per-bucket mass deviates
    // from the exact tile count only by the sketch's merged rank-error
    // band + granularity, the q_agg_selectivity_approx bound family.
    // No rank window ever touches lineitem rows keyed by the 3-value
    // group alone (plan-shape spec on the shared kernel).
    QueryDef(
      "q_agg_histogram_eqdepth_approx",
      Sketches.ShardedCentsSketchSql +
      """m AS (SELECT grp, count(*)::BIGINT AS m FROM h6 GROUP BY grp),
        |rk AS (SELECT grp, v, j, row_number() OVER (PARTITION BY grp ORDER BY v, j) - 1 AS i FROM h6)
        |SELECT rk.grp AS l_returnflag, CAST((rk.i * 8) // m.m + 1 AS INT) AS tile,
        |  count(*)::BIGINT * max(g.two) * 64 AS cnt_est,
        |  min(rk.v) AS lo, max(rk.v) AS hi,
        |  max(g.two) * 64 AS w_final, max(m.m) AS m_sketch
        |FROM rk JOIN m ON m.grp = rk.grp JOIN geo2 g ON g.grp = rk.grp
        |GROUP BY 1, 2
        |""".stripMargin) { (s, d) =>
      val nSh = Sketches.NShards
      val (sk0, geo) = Sketches.shardedQuantileSketch(Sketches.centsSharded(s, d), nSh)
      val sk = sk0.localCheckpoint()
      val m = sk.groupBy("grp").agg(count(lit(1)).as("m"))
      sk.withColumn("i", row_number().over(Window.partitionBy("grp")
          .orderBy(col("v"), col("j"))).cast("long") - 1)
        .join(broadcast(m), "grp")
        .join(broadcast(geo.select("grp", "two")), "grp")
        .groupBy(col("grp"), expr("cast((i * 8) div m + 1 as int)").as("tile"))
        .agg((count(lit(1)) * max("two") * nSh).as("cnt_est"),
          min("v").as("lo"), max("v").as("hi"),
          (max("two") * nSh).as("w_final"), max("m").as("m_sketch"))
        .select(col("grp").as("l_returnflag"), col("tile"), col("cnt_est"),
          col("lo"), col("hi"), col("w_final"), col("m_sketch"))
    },

    // Range-selectivity estimation from the equi-depth histogram — the
    // second optimizer-statistics primitive beside join-cardinality
    // pricing (q_agg_join_cardinality): estimate |cents <= X| from 20
    // bucket summaries (full buckets count exactly, the one straddling
    // bucket linearly interpolates with integer division) and audit
    // against the true count. The estimator's contract rides the
    // output: only the straddling bucket can err, so
    // |est - actual| <= its count <= ceil(n/20), stated as `bound` and
    // asserted by `ok` — the equi-depth guarantee that makes these
    // histograms the planner's default. Bucket boundaries come from a
    // FULLY tie-broken ntile (the q_agg_histogram_eqdepth discipline),
    // so both engines build the identical histogram; interpolation is
    // non-negative integer arithmetic (div == //).
    //
    // Scale shape: one partitioned rank window per group builds the
    // histogram (the plan q_agg_quantile_rank proves at scale), after
    // which estimation reads 20 summary rows per group — the whole
    // point: the planner answers from the sketch, the scan runs once
    // for the audit only.
    QueryDef(
      "q_agg_selectivity",
      """WITH v AS (
        |  SELECT l_returnflag AS grp, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    l_orderkey, l_linenumber
        |  FROM lineitem),
        |r AS MATERIALIZED (
        |  SELECT grp, cents,
        |    ntile(20) OVER (PARTITION BY grp ORDER BY cents, l_orderkey, l_linenumber) AS tile
        |  FROM v),
        |h AS MATERIALIZED (
        |  SELECT grp, tile, count(*)::BIGINT AS cnt,
        |    min(cents) AS lo, max(cents) AS hi
        |  FROM r GROUP BY 1, 2),
        |n AS (SELECT grp, sum(cnt)::BIGINT AS n FROM h GROUP BY 1),
        |x AS (SELECT grp, CAST(u.x AS BIGINT) AS x
        |  FROM n, UNNEST([1500000, 4000000, 8000000]) u(x)),
        |est AS (
        |  SELECT x.grp, x.x,
        |    sum(CASE WHEN h.hi <= x.x THEN h.cnt
        |             WHEN h.lo > x.x THEN 0
        |             ELSE h.cnt * (x.x - h.lo) // greatest(h.hi - h.lo, 1) END
        |        )::BIGINT AS est_rows
        |  FROM x JOIN h ON h.grp = x.grp GROUP BY 1, 2),
        |act AS (
        |  SELECT x.grp, x.x, sum(CASE WHEN v.cents <= x.x THEN 1 ELSE 0 END)::BIGINT AS actual_rows
        |  FROM x JOIN v ON v.grp = x.grp GROUP BY 1, 2)
        |SELECT e.grp AS l_returnflag, e.x AS threshold_cents, a.actual_rows, e.est_rows,
        |  e.est_rows - a.actual_rows AS err_rows,
        |  (n.n + 19) // 20 AS bound,
        |  abs(e.est_rows - a.actual_rows) <= (n.n + 19) // 20 AS ok
        |FROM est e JOIN act a ON a.grp = e.grp AND a.x = e.x
        |JOIN n ON n.grp = e.grp
        |""".stripMargin) { (s, d) =>
      val v = lineitem(s, d).select(col("l_returnflag").as("grp"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      val h = v
        .withColumn("tile", ntile(20).over(Window.partitionBy("grp")
          .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))))
        .groupBy("grp", "tile")
        .agg(count(lit(1)).as("cnt"), min("cents").as("lo"), max("cents").as("hi"))
        .localCheckpoint() // 60 summary rows feed sizes + estimation
      val n = h.groupBy("grp").agg(sum("cnt").as("n"))
      val x = n.select(col("grp"), col("n"),
        explode(array(lit(1500000L), lit(4000000L), lit(8000000L))).as("x"))
      val est = x.join(broadcast(h), Seq("grp"))
        .groupBy("grp", "x")
        .agg(sum(when(col("hi") <= col("x"), col("cnt"))
          .when(col("lo") > col("x"), lit(0L))
          .otherwise(expr("cnt * (x - lo) div greatest(hi - lo, 1L)")))
          .as("est_rows"))
      val act = v.join(broadcast(x.select("grp", "x")), Seq("grp"))
        .groupBy("grp", "x")
        .agg(sum(when(col("cents") <= col("x"), 1L).otherwise(0L))
          .as("actual_rows"))
      est.join(act, Seq("grp", "x")).join(broadcast(n), Seq("grp"))
        .select(col("grp").as("l_returnflag"), col("x").as("threshold_cents"),
          col("actual_rows"), col("est_rows"),
          (col("est_rows") - col("actual_rows")).as("err_rows"),
          expr("(n + 19) div 20").as("bound"),
          (abs(col("est_rows") - col("actual_rows")) <= expr("(n + 19) div 20"))
            .as("ok"))
    },

    // The 100 TB-shaped TWIN of q_agg_selectivity (r11; the
    // q_quality_profile -> q_quality_profile_approx pairing): the 20
    // equi-depth bucket boundaries come from the SHARDED mergeable
    // quantile sketch (Sketches.shardedQuantileSketch — rank window
    // keyed by (grp, shard), never grp alone; <= 256 items/group
    // regardless of n) instead of the exact ntile's whole-group rank.
    // Bucket b holds the kept items at index i with i*20//m = b-1;
    // each item stands for w_final originals, so cnt_est = w_final *
    // items; the range estimate then runs the IDENTICAL interpolation
    // machinery as the exact entry. The audited bound widens by the
    // sketch's contribution, and every term is provable integer
    // arithmetic:
    //   |est - actual| <= W*(m div 20 + 1)   (straddling sketch bucket)
    //                   + 4W                 (merged rank-error band,
    //                                         the 1-vs-k pinned 4x
    //                                         final-weight contract)
    //                   + W                  (kept-item granularity)
    // = the "equi-depth + sketch rank-error" bound riding the output.
    //
    // Scale shape: pass 1 builds the sketch under the (grp, shard)
    // rank; the histogram, thresholds, and estimation all read <= 256
    // summary rows per group; pass 2 scans lineitem once as a
    // map-side-combined conditional aggregate for the audit only — at
    // 100 TB the planner answers from the sketch and never rescans.
    QueryDef(
      "q_agg_selectivity_approx",
      Sketches.ShardedCentsSketchSql +
      """m AS (SELECT grp, count(*)::BIGINT AS m FROM h6 GROUP BY grp),
        |rk AS (SELECT grp, v, j, row_number() OVER (PARTITION BY grp ORDER BY v, j) - 1 AS i FROM h6),
        |h AS MATERIALIZED (
        |  SELECT rk.grp, (rk.i * 20) // m.m + 1 AS tile,
        |    count(*)::BIGINT * max(g.two) * 64 AS cnt_est,
        |    min(rk.v) AS lo, max(rk.v) AS hi
        |  FROM rk JOIN m USING (grp) JOIN geo2 g USING (grp)
        |  GROUP BY 1, 2),
        |x AS (SELECT g.grp, CAST(u.x AS BIGINT) AS x
        |  FROM geo2 g, UNNEST([1500000, 4000000, 8000000]) u(x)),
        |est AS (
        |  SELECT x.grp, x.x,
        |    sum(CASE WHEN h.hi <= x.x THEN h.cnt_est
        |             WHEN h.lo > x.x THEN 0
        |             ELSE h.cnt_est * (x.x - h.lo) // greatest(h.hi - h.lo, 1) END
        |        )::BIGINT AS est_rows
        |  FROM x JOIN h ON h.grp = x.grp GROUP BY 1, 2),
        |act AS (
        |  SELECT x.grp, x.x, sum(CASE WHEN v.cents <= x.x THEN 1 ELSE 0 END)::BIGINT AS actual_rows
        |  FROM x JOIN v ON v.grp = x.grp GROUP BY 1, 2)
        |SELECT e.grp AS l_returnflag, e.x AS threshold_cents,
        |  a.actual_rows, e.est_rows,
        |  e.est_rows - a.actual_rows AS err_rows,
        |  g.n, g.two * 64 AS w_final, m.m AS m_sketch,
        |  g.two * 64 * (m.m // 20 + 6) AS bound,
        |  abs(e.est_rows - a.actual_rows) <= g.two * 64 * (m.m // 20 + 6) AS ok
        |FROM est e JOIN act a ON a.grp = e.grp AND a.x = e.x
        |JOIN geo2 g ON g.grp = e.grp JOIN m ON m.grp = e.grp
        |""".stripMargin) { (s, d) =>
      val nSh = Sketches.NShards
      val v = Sketches.centsSharded(s, d)
      val (sk0, geo) = Sketches.shardedQuantileSketch(v, nSh)
      val sk = sk0.localCheckpoint() // <= 256 rows/group
      val m = sk.groupBy("grp").agg(count(lit(1)).as("m"))
      val h = sk
        .withColumn("i", row_number().over(Window.partitionBy("grp")
          .orderBy(col("v"), col("j"))).cast("long") - 1)
        .join(broadcast(m), "grp").join(broadcast(geo.select("grp", "two")), "grp")
        .groupBy(col("grp"), expr("(i * 20) div m + 1").as("tile"))
        .agg((count(lit(1)) * max("two") * nSh).as("cnt_est"),
          min("v").as("lo"), max("v").as("hi"))
        .localCheckpoint() // <= 60 summary rows feed estimation
      val x = geo.select(col("grp"),
        explode(array(lit(1500000L), lit(4000000L), lit(8000000L))).as("x"))
      val est = x.join(broadcast(h), Seq("grp"))
        .groupBy("grp", "x")
        .agg(sum(when(col("hi") <= col("x"), col("cnt_est"))
          .when(col("lo") > col("x"), lit(0L))
          .otherwise(expr("cnt_est * (x - lo) div greatest(hi - lo, 1L)")))
          .as("est_rows"))
      val act = v.join(broadcast(x), Seq("grp"))
        .groupBy("grp", "x")
        .agg(sum(when(col("cents") <= col("x"), 1L).otherwise(0L))
          .as("actual_rows"))
      est.join(act, Seq("grp", "x"))
        .join(broadcast(geo), Seq("grp")).join(broadcast(m), Seq("grp"))
        .select(col("grp").as("l_returnflag"), col("x").as("threshold_cents"),
          col("actual_rows"), col("est_rows"),
          (col("est_rows") - col("actual_rows")).as("err_rows"),
          col("n"), (col("two") * nSh).as("w_final"), col("m").as("m_sketch"),
          (col("two") * nSh * (expr("m div 20") + 6)).as("bound"),
          (abs(col("est_rows") - col("actual_rows")) <=
            col("two") * nSh * (expr("m div 20") + 6)).as("ok"))
    },

    // Argmax via max(struct(ord, value)) — deterministic under ties
    // (custkey tie-break), one aggregation, no window shuffle.
    QueryDef(
      "q_agg_argmax",
      """SELECT c_nationkey, c_custkey AS top_cust, c_acctbal AS top_bal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
        |  FROM customer) t WHERE rn = 1
        |""".stripMargin) { (s, d) =>
      customer(s, d)
        .groupBy("c_nationkey")
        .agg(max(struct(col("c_acctbal"), col("c_custkey"))).as("m"))
        .select(col("c_nationkey"),
          col("m.c_custkey").as("top_cust"), col("m.c_acctbal").as("top_bal"))
    },

    // Moment statistics, floor-scaled to integer micro-units so the two
    // engines' accumulation-order ulp noise can't break the compare.
    QueryDef(
      "q_agg_stats_moments",
      """SELECT l_returnflag,
        |  CAST(floor(stddev_samp(l_quantity) * 1000000) AS BIGINT) AS stddev_qty_u,
        |  CAST(floor(var_samp(l_quantity) * 1000000) AS BIGINT) AS var_qty_u,
        |  CAST(floor(corr(l_quantity, l_extendedprice) * 1000000) AS BIGINT) AS corr_u
        |FROM lineitem GROUP BY l_returnflag
        |""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          floor(stddev_samp(col("l_quantity")) * 1000000).as("stddev_qty_u"),
          floor(var_samp(col("l_quantity")) * 1000000).as("var_qty_u"),
          floor(corr(col("l_quantity"), col("l_extendedprice")) * 1000000).as("corr_u"))
    },

    // Mergeable HLL sketches — the property that makes distinct-counting
    // work at 100 TB: per-partition/per-group sketches combine losslessly
    // (hll_union_agg), so a rollup never rescans raw data. Here sketches
    // built per (returnflag, linestatus) are UNIONED up to returnflag and
    // the merged estimate must land within 5% of exact (DataSketches HLL,
    // lgK=12 → ~1.6% rsd; the oracle states the contract, as with
    // q_agg_approx_distinct — sketch binaries themselves are not portable
    // across engines by design).
    QueryDef(
      "q_agg_hll_merge",
      """SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  true AS merge_within_5pct
        |FROM lineitem GROUP BY l_returnflag
        |""".stripMargin) { (s, d) =>
      val li = lineitem(s, d)
      val merged = li
        .groupBy("l_returnflag", "l_linestatus")
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
        .groupBy("l_returnflag")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"))
      merged.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n_parts"),
          (abs(col("est") - col("n_parts")) <= col("n_parts") * 0.05)
            .as("merge_within_5pct"))
    },

    // Misra-Gries heavy hitters (typed mergeable Aggregator, capacity 2):
    // bounded state per group no matter how many distinct keys stream by.
    // The fixture is deliberately uniform, so the key stream is given a
    // deterministic geometric skew — key = lowest set bit of l_partkey
    // (50% / 25% / 12.5% / ...), pure integer math in both engines. The
    // checked CONTRACT is the MG guarantee: every key with true frequency
    // > n/(capacity+1) is IN the sketch, so `ok` (non-heavy OR present)
    // is provably true for every key, whatever merge order the cluster
    // used. The sketch itself stays engine-side (like the HLL binaries).
    QueryDef(
      "q_agg_heavy_hitters",
      """SELECT k, n, true AS ok FROM (
        |  SELECT CAST(l_partkey & -l_partkey AS VARCHAR) AS k, count(*) AS n
        |  FROM lineitem GROUP BY 1) t
        |""".stripMargin) { (s, d) =>
      val s2 = s
      import s2.implicits._
      val keyed = lineitem(s, d)
        .select(col("l_partkey").bitwiseAND(-col("l_partkey"))
          .cast("string").as("k"))
      // Single distributed plan: the MG sketch stays a 1-row Dataset whose
      // keys (at most `capacity` of them) are flattened and broadcast into
      // a left join; the total rides along as a broadcast 1-row aggregate.
      // No driver-side materialization anywhere in the query body.
      val sketchKeys = keyed.as[String]
        .select(new graft.functions.HeavyHitters(2).toColumn)
        .flatMap(_.keys).toDF("hh_k")
      val agged = keyed.groupBy("k").agg(count(lit(1)).as("n"))
      val total = agged.agg(sum("n").as("total"))
      agged.crossJoin(broadcast(total))
        .join(broadcast(sketchKeys), col("k") === col("hh_k"), "left")
        .select(col("k"), col("n"),
          (col("n") * 3 <= col("total") || col("hh_k").isNotNull)
            .as("ok"))
    },

    // Approximate query processing (r11): answer SUM(revenue) per group
    // from a 1-in-100 deterministic hash sample with a CLT confidence
    // bound, audited in-output against the exact total. The estimator is
    // Horvitz-Thompson for Bernoulli(p=1/100) inclusion: est = 100 * Σ
    // sample cents (exact BIGINT); its variance estimate is
    // ((1-p)/p²) Σ sample cents² — carried as a BIGINT of dollars²
    // (integer-divided per row, exact and overflow-safe to ~sf1000) and
    // converted to a half-width half = 3·sqrt(9.9e7 · Σdollars²)
    // (BIGINT→DOUBLE conversion and sqrt are both correctly-rounded
    // IEEE, bit-identical across engines — unlike the banned exp/ln/pow
    // family). `ok` asserts |est − truth| <= half: the z=3 (~99.7%)
    // contract the estimator sells to its caller.
    //
    // Scale shape: the SAMPLE is what a 100 TB deployment materializes
    // as its own 1% bucket table (the h60 bucket is append-stable, so
    // the sample table maintains itself under ingest); the estimator
    // then answers from 1% of the bytes with a per-group error bar. The
    // full-table pass here exists only to AUDIT the bound — the exact
    // analogue of q_agg_selectivity's truth column.
    QueryDef(
      "q_agg_aqp",
      """WITH v AS (
        |  SELECT l_returnflag AS grp,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    ('0x' || substr(md5('aqp:' || l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR), 1, 15))::BIGINT % 100 AS bkt
        |  FROM lineitem),
        |samp AS (
        |  SELECT grp, count(*)::BIGINT AS n_sample,
        |    100 * CAST(sum(cents) AS BIGINT) AS est_cents,
        |    CAST(sum((cents * cents) // 10000) AS BIGINT) AS sumsq_d2
        |  FROM v WHERE bkt = 0 GROUP BY grp),
        |tru AS (SELECT grp, count(*)::BIGINT AS n_total,
        |  CAST(sum(cents) AS BIGINT) AS truth_cents FROM v GROUP BY grp)
        |SELECT t.grp AS l_returnflag, t.n_total, s.n_sample, s.est_cents,
        |  t.truth_cents,
        |  CAST(ceil(3 * sqrt(99000000.0 * CAST(s.sumsq_d2 AS DOUBLE))) AS BIGINT) AS half_cents,
        |  abs(s.est_cents - t.truth_cents)
        |    <= CAST(ceil(3 * sqrt(99000000.0 * CAST(s.sumsq_d2 AS DOUBLE))) AS BIGINT) AS ok
        |FROM tru t JOIN samp s ON s.grp = t.grp
        |""".stripMargin) { (s, d) =>
      val v = lineitem(s, d).select(
        col("l_returnflag").as("grp"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        (graft.Exact.h60(concat(lit("aqp:"), col("l_orderkey"), lit(":"),
          col("l_linenumber"))) % 100).as("bkt"))
      val samp = v.filter(col("bkt") === 0).groupBy("grp")
        .agg(count(lit(1)).as("n_sample"),
          (lit(100L) * sum("cents")).as("est_cents"),
          sum(expr("(cents * cents) div 10000")).as("sumsq_d2"))
      val tru = v.groupBy("grp")
        .agg(count(lit(1)).as("n_total"), sum("cents").as("truth_cents"))
      val half = ceil(lit(3d) * sqrt(lit(99000000d) *
        col("sumsq_d2").cast("double"))).cast("long")
      tru.join(samp, "grp")
        .select(col("grp").as("l_returnflag"), col("n_total"),
          col("n_sample"), col("est_cents"), col("truth_cents"),
          half.as("half_cents"),
          (abs(col("est_cents") - col("truth_cents")) <= half).as("ok"))
    }
  )
}
