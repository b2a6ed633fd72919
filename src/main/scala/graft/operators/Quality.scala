package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Exact.{dec, decOut}
import graft.sources.Tables._

/** Data-quality operators — the validation layer every large-scale
  * training-data pipeline runs before (and after) curation: per-column
  * profiling and declarative constraint checks (the Deequ/Great-
  * Expectations shape). The reference has no notion of data validation
  * (its inputs are trusted text dirs, `tools.py:132-163` only checks the
  * directory is non-empty) — this is north-star surface.
  *
  * Scale design: profiling is ONE pass over the table — every metric is
  * an algebraic aggregate (count/min/max/sum-of-length), so the whole
  * profile is a single partial+final HashAggregate with no shuffle of row
  * data; distinct counts ride the same pass as exact `count_distinct`
  * (Spark expands multi-distinct into one Expand + two-stage agg, still
  * one scan). Constraints are scalar aggregates unioned after the scan;
  * the referential check is the only one that shuffles, and it shuffles
  * KEYS ONLY (anti-join on the key column, both sides pre-projected).
  */
object Quality {

  /** One profile row per column: nulls, exact distinct, numeric min/max
    * (timestamps as epoch micros — exact in a double up to 2^53), and
    * mean string length for text columns. */
  private def profileRow(
      colName: String,
      nulls: Column,
      distinct: Column,
      minNum: Column,
      maxNum: Column,
      avgLen: Column): Column =
    struct(
      lit(colName).as("col_name"),
      nulls.as("n_nulls"),
      distinct.as("n_distinct"),
      minNum.as("min_num"),
      maxNum.as("max_num"),
      avgLen.as("avg_len"))

  /** The FD candidates q_quality_fd checks, as (name, lhs, rhs) over the
    * denormalized lineitem x orders x customer view. Declared before
    * `defs` (oracle strings build at object init). */
  private val FdCands: Seq[(String, String, String)] = Seq(
    ("l_orderkey->o_custkey", "l_orderkey", "o_custkey"),
    ("o_custkey->c_nationkey", "o_custkey", "c_nationkey"),
    ("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"),
    ("l_partkey->l_suppkey", "l_partkey", "l_suppkey"),
    ("c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"))

  val defs: Seq[QueryDef] = Seq(

    // Functional-dependency discovery — the data-profiling primitive
    // under schema normalization and key detection (the TANE/Metanome
    // check, one candidate at a time): A -> B holds iff no A value maps
    // to two B values. Five candidates over the denormalized
    // lineitem x orders x customer view, two genuine FDs (key -> its
    // row's attribute through the join) and three violations. Each
    // check is a keys-only two-stage aggregate — per-A distinct-B
    // count, then one row of (lhs count, violating-lhs count) — so a
    // candidate costs one (A, B)-pair distinct shuffle and nothing
    // row-sized; at 100 TB that is exactly the profile pass a schema
    // advisor runs per candidate edge. Integer counts, bit-exact
    // oracle.
    QueryDef(
      "q_quality_fd",
      FdCands.map { case (nm, a, b) =>
        s"""SELECT '$nm' AS fd, n_lhs, n_violating_lhs,
           |  n_violating_lhs = 0 AS holds FROM (
           |  SELECT count(*)::BIGINT AS n_lhs,
           |    sum(CASE WHEN ndb > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating_lhs
           |  FROM (SELECT $a, count(DISTINCT $b) AS ndb
           |        FROM lineitem
           |        JOIN orders ON o_orderkey = l_orderkey
           |        JOIN customer ON c_custkey = o_custkey
           |        GROUP BY $a) g) s""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\n")) { (s, d) =>
      val view = lineitem(s, d)
        .join(orders(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(customer(s, d), col("c_custkey") === col("o_custkey"))
        .select("l_orderkey", "o_custkey", "c_nationkey", "o_orderpriority",
          "l_partkey", "l_suppkey", "c_mktsegment")
        .localCheckpoint() // five candidate checks read one materialization
      graft.api.Graft.fdCheck(view, FdCands.map { case (_, a, b) => (a, b) })
    },

    // Pairwise Pearson correlation matrix — the feature-profiling pass
    // before model training (collinearity screening, leakage checks),
    // in ONE algebraic aggregate: a single scan accumulates every sum /
    // square / cross-product as exact decimal, and all 6 pairwise
    // correlations derive from that one broadcast row. corr =
    // decOut(n*Sxy - Sx*Sy) / (sqrt(decOut(n*Sxx - Sx^2)) *
    // sqrt(decOut(n*Syy - Sy^2))) — the numerator/denominators are
    // exact decimals rounded once to doubles, and sqrt is IEEE-exact,
    // so both engines produce the identical double. Columns are the
    // small-magnitude measures (quantity/discount/tax/linenumber): the
    // decimal differences stay far below the 2^52-unscaled bound the
    // decOut contract needs. At 100 TB this is one map-side-combined
    // pass over the table; the matrix math costs nothing.
    QueryDef(
      "q_quality_corr", {
        val names = Seq("quantity" -> "l_quantity", "discount" -> "l_discount",
          "tax" -> "l_tax", "linenumber" -> "l_linenumber")
        val sums = names.map { case (n, c) =>
          s"sum(CAST($c AS DECIMAL(38,10))) AS s_$n" } ++
          (for { i <- names.indices; j <- i until names.size } yield {
            val (ni, ci) = names(i); val (nj, cj) = names(j)
            s"sum(CAST($ci * $cj AS DECIMAL(38,10))) AS s_${ni}_$nj"
          })
        val pairs = for { i <- names.indices; j <- (i + 1) until names.size }
          yield (names(i)._1, names(j)._1)
        val sel = pairs.map { case (a, b) =>
          s"""  SELECT '$a~$b' AS pair,
             |    CAST(round(n * s_${a}_$b - s_$a * s_$b, 4) AS DOUBLE)
             |      / (sqrt(CAST(round(n * s_${a}_$a - s_$a * s_$a, 4) AS DOUBLE))
             |         * sqrt(CAST(round(n * s_${b}_$b - s_$b * s_$b, 4) AS DOUBLE))) AS corr
             |  FROM s""".stripMargin
        }
        s"""WITH s AS (
           |  SELECT count(*)::BIGINT AS n,
           |    ${sums.mkString(",\n    ")}
           |  FROM lineitem)
           |${sel.mkString("\nUNION ALL\n")}
           |""".stripMargin
      }) { (s, d) =>
      val names = Seq("quantity" -> "l_quantity", "discount" -> "l_discount",
        "tax" -> "l_tax", "linenumber" -> "l_linenumber")
      val aggs =
        names.map { case (n, c) => sum(dec(col(c))).as(s"s_$n") } ++
          (for { i <- names.indices; j <- i until names.size } yield {
            val (ni, ci) = names(i); val (nj, cj) = names(j)
            sum(dec(col(ci) * col(cj))).as(s"s_${ni}_$nj")
          })
      val s1 = lineitem(s, d)
        .agg(count(lit(1)).as("n"), aggs: _*)
      val pairs = for { i <- names.indices; j <- (i + 1) until names.size }
        yield (names(i)._1, names(j)._1)
      // ONE aggregate pass, the 6 matrix cells exploded off the single
      // row (the q_quality_profile shape) — the former 6-branch union
      // re-planned the full decimal aggregate PER BRANCH (r18 measured
      // 12 parquet scans / 6 HashAggregate pairs in the plan; the
      // "derives from one row" claim held only logically, not
      // physically)
      s1.select(explode(array(pairs.map { case (a, b) =>
          struct(lit(s"$a~$b").as("pair"),
            (decOut(col("n") * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
              (sqrt(decOut(col("n") * col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a"))) *
                sqrt(decOut(col("n") * col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b"))))
              ).as("corr"))
        }: _*)).as("p"))
        .select(col("p.pair").as("pair"), col("p.corr").as("corr"))
    },

    // ---- per-column profiling ---------------------------------------
    // The "describe the table" primitive: one aggregate pass computes
    // every per-column metric; the single result row is exploded into
    // one output row per column. At 100 TB this reads the table once and
    // moves only constant-size aggregate buffers.
    QueryDef(
      "q_quality_profile",
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS k_nul,
        |    count(DISTINCT o_orderkey) AS k_dis,
        |    min(o_orderkey) AS k_min, max(o_orderkey) AS k_max,
        |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS c_nul,
        |    count(DISTINCT o_custkey) AS c_dis,
        |    min(o_custkey) AS c_min, max(o_custkey) AS c_max,
        |    sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT AS s_nul,
        |    count(DISTINCT o_orderstatus) AS s_dis,
        |    CAST(round(sum(CAST(length(o_orderstatus) AS DECIMAL(38,10))), 4) AS DOUBLE) / count(o_orderstatus) AS s_len,
        |    sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS p_nul,
        |    count(DISTINCT o_totalprice) AS p_dis,
        |    min(o_totalprice) AS p_min, max(o_totalprice) AS p_max,
        |    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS d_nul,
        |    count(DISTINCT o_orderdate) AS d_dis,
        |    epoch_us(min(o_orderdate)) AS d_min, epoch_us(max(o_orderdate)) AS d_max,
        |    sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT AS r_nul,
        |    count(DISTINCT o_orderpriority) AS r_dis,
        |    CAST(round(sum(CAST(length(o_orderpriority) AS DECIMAL(38,10))), 4) AS DOUBLE) / count(o_orderpriority) AS r_len
        |  FROM orders)
        |SELECT u.col_name, a.n AS n_rows, u.n_nulls, u.n_distinct, u.min_num, u.max_num, u.avg_len
        |FROM a, (
        |  SELECT 'o_orderkey' AS col_name, k_nul AS n_nulls, k_dis AS n_distinct,
        |    CAST(k_min AS DOUBLE) AS min_num, CAST(k_max AS DOUBLE) AS max_num, CAST(NULL AS DOUBLE) AS avg_len FROM a
        |  UNION ALL SELECT 'o_custkey', c_nul, c_dis, CAST(c_min AS DOUBLE), CAST(c_max AS DOUBLE), NULL FROM a
        |  UNION ALL SELECT 'o_orderstatus', s_nul, s_dis, NULL, NULL, s_len FROM a
        |  UNION ALL SELECT 'o_totalprice', p_nul, p_dis, p_min, p_max, NULL FROM a
        |  UNION ALL SELECT 'o_orderdate', d_nul, d_dis, CAST(d_min AS DOUBLE), CAST(d_max AS DOUBLE), NULL FROM a
        |  UNION ALL SELECT 'o_orderpriority', r_nul, r_dis, NULL, NULL, r_len FROM a) u
        |""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
      val agg = o.agg(
        count(lit(1)).as("n"),
        nulls("o_orderkey").as("k_nul"), count_distinct(col("o_orderkey")).as("k_dis"),
        min("o_orderkey").as("k_min"), max("o_orderkey").as("k_max"),
        nulls("o_custkey").as("c_nul"), count_distinct(col("o_custkey")).as("c_dis"),
        min("o_custkey").as("c_min"), max("o_custkey").as("c_max"),
        nulls("o_orderstatus").as("s_nul"), count_distinct(col("o_orderstatus")).as("s_dis"),
        (decOut(sum(dec(length(col("o_orderstatus"))))) / count(col("o_orderstatus"))).as("s_len"),
        nulls("o_totalprice").as("p_nul"), count_distinct(col("o_totalprice")).as("p_dis"),
        min("o_totalprice").as("p_min"), max("o_totalprice").as("p_max"),
        nulls("o_orderdate").as("d_nul"), count_distinct(col("o_orderdate")).as("d_dis"),
        unix_micros(min(col("o_orderdate").cast("timestamp"))).as("d_min"),
        unix_micros(max(col("o_orderdate").cast("timestamp"))).as("d_max"),
        nulls("o_orderpriority").as("r_nul"), count_distinct(col("o_orderpriority")).as("r_dis"),
        (decOut(sum(dec(length(col("o_orderpriority"))))) / count(col("o_orderpriority"))).as("r_len"))
      agg.select(col("n"), explode(array(
          profileRow("o_orderkey", col("k_nul"), col("k_dis"),
            col("k_min").cast("double"), col("k_max").cast("double"), lit(null).cast("double")),
          profileRow("o_custkey", col("c_nul"), col("c_dis"),
            col("c_min").cast("double"), col("c_max").cast("double"), lit(null).cast("double")),
          profileRow("o_orderstatus", col("s_nul"), col("s_dis"),
            lit(null).cast("double"), lit(null).cast("double"), col("s_len")),
          profileRow("o_totalprice", col("p_nul"), col("p_dis"),
            col("p_min"), col("p_max"), lit(null).cast("double")),
          profileRow("o_orderdate", col("d_nul"), col("d_dis"),
            col("d_min").cast("double"), col("d_max").cast("double"), lit(null).cast("double")),
          profileRow("o_orderpriority", col("r_nul"), col("r_dis"),
            lit(null).cast("double"), lit(null).cast("double"), col("r_len")))).as("p"))
        .select(col("p.col_name"), col("n").as("n_rows"), col("p.n_nulls"),
          col("p.n_distinct"), col("p.min_num"), col("p.max_num"), col("p.avg_len"))
    },

    // The 100 TB profile: identical shape, but n_distinct comes from
    // approx_count_distinct (HLL++) — every metric in the ONE aggregate
    // pass is then algebraic, so the plan has NO Expand node (exact
    // multi-distinct expands the scan ~7x before partial agg; see
    // q_quality_profile). This one-pass approx aggregate IS the
    // production operator. The exact distinct counts appear here only as
    // the oracle-checkable contract twin: six single-distinct mini
    // aggregations (each a two-stage agg — a single DISTINCT column
    // never Expands) broadcast onto the approx row, asserting every HLL
    // estimate lands within 10% (2x the default 5% rsd) of truth. The
    // output carries the exact value + the bound flag, the
    // q_agg_approx_distinct precedent.
    QueryDef(
      "q_quality_profile_approx",
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS k_nul,
        |    count(DISTINCT o_orderkey) AS k_dis,
        |    min(o_orderkey) AS k_min, max(o_orderkey) AS k_max,
        |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS c_nul,
        |    count(DISTINCT o_custkey) AS c_dis,
        |    min(o_custkey) AS c_min, max(o_custkey) AS c_max,
        |    sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT AS s_nul,
        |    count(DISTINCT o_orderstatus) AS s_dis,
        |    CAST(round(sum(CAST(length(o_orderstatus) AS DECIMAL(38,10))), 4) AS DOUBLE) / count(o_orderstatus) AS s_len,
        |    sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS p_nul,
        |    count(DISTINCT o_totalprice) AS p_dis,
        |    min(o_totalprice) AS p_min, max(o_totalprice) AS p_max,
        |    sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT AS d_nul,
        |    count(DISTINCT o_orderdate) AS d_dis,
        |    epoch_us(min(o_orderdate)) AS d_min, epoch_us(max(o_orderdate)) AS d_max,
        |    sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT AS r_nul,
        |    count(DISTINCT o_orderpriority) AS r_dis,
        |    CAST(round(sum(CAST(length(o_orderpriority) AS DECIMAL(38,10))), 4) AS DOUBLE) / count(o_orderpriority) AS r_len
        |  FROM orders)
        |SELECT u.col_name, a.n AS n_rows, u.n_nulls, u.n_distinct,
        |  true AS nd_within_10pct, u.min_num, u.max_num, u.avg_len
        |FROM a, (
        |  SELECT 'o_orderkey' AS col_name, k_nul AS n_nulls, k_dis AS n_distinct,
        |    CAST(k_min AS DOUBLE) AS min_num, CAST(k_max AS DOUBLE) AS max_num, CAST(NULL AS DOUBLE) AS avg_len FROM a
        |  UNION ALL SELECT 'o_custkey', c_nul, c_dis, CAST(c_min AS DOUBLE), CAST(c_max AS DOUBLE), NULL FROM a
        |  UNION ALL SELECT 'o_orderstatus', s_nul, s_dis, NULL, NULL, s_len FROM a
        |  UNION ALL SELECT 'o_totalprice', p_nul, p_dis, p_min, p_max, NULL FROM a
        |  UNION ALL SELECT 'o_orderdate', d_nul, d_dis, CAST(d_min AS DOUBLE), CAST(d_max AS DOUBLE), NULL FROM a
        |  UNION ALL SELECT 'o_orderpriority', r_nul, r_dis, NULL, NULL, r_len FROM a) u
        |""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
      // the production pass: one scan, all-algebraic, Expand-free
      val approx = o.agg(
        count(lit(1)).as("n"),
        nulls("o_orderkey").as("k_nul"), approx_count_distinct(col("o_orderkey")).as("k_apx"),
        min("o_orderkey").as("k_min"), max("o_orderkey").as("k_max"),
        nulls("o_custkey").as("c_nul"), approx_count_distinct(col("o_custkey")).as("c_apx"),
        min("o_custkey").as("c_min"), max("o_custkey").as("c_max"),
        nulls("o_orderstatus").as("s_nul"), approx_count_distinct(col("o_orderstatus")).as("s_apx"),
        (decOut(sum(dec(length(col("o_orderstatus"))))) / count(col("o_orderstatus"))).as("s_len"),
        nulls("o_totalprice").as("p_nul"), approx_count_distinct(col("o_totalprice")).as("p_apx"),
        min("o_totalprice").as("p_min"), max("o_totalprice").as("p_max"),
        nulls("o_orderdate").as("d_nul"), approx_count_distinct(col("o_orderdate")).as("d_apx"),
        unix_micros(min(col("o_orderdate").cast("timestamp"))).as("d_min"),
        unix_micros(max(col("o_orderdate").cast("timestamp"))).as("d_max"),
        nulls("o_orderpriority").as("r_nul"), approx_count_distinct(col("o_orderpriority")).as("r_apx"),
        (decOut(sum(dec(length(col("o_orderpriority"))))) / count(col("o_orderpriority"))).as("r_len"))
      // contract twin: exact counts, one single-distinct agg per column
      val wide = Seq("o_orderkey" -> "k", "o_custkey" -> "c",
          "o_orderstatus" -> "s", "o_totalprice" -> "p",
          "o_orderdate" -> "d", "o_orderpriority" -> "r")
        .foldLeft(approx) { case (acc, (cn, p)) =>
          acc.crossJoin(broadcast(
            o.agg(count_distinct(col(cn)).as(s"${p}_dis"))))
        }
      def row(name: String, p: String, minC: Column, maxC: Column,
          lenC: Column): Column =
        struct(lit(name).as("col_name"), col(s"${p}_nul").as("n_nulls"),
          col(s"${p}_dis").as("n_distinct"),
          (abs(col(s"${p}_apx") - col(s"${p}_dis"))
            <= col(s"${p}_dis") * 0.10).as("nd_ok"),
          minC.as("min_num"), maxC.as("max_num"), lenC.as("avg_len"))
      val nullD = lit(null).cast("double")
      wide.select(col("n"), explode(array(
          row("o_orderkey", "k", col("k_min").cast("double"),
            col("k_max").cast("double"), nullD),
          row("o_custkey", "c", col("c_min").cast("double"),
            col("c_max").cast("double"), nullD),
          row("o_orderstatus", "s", nullD, nullD, col("s_len")),
          row("o_totalprice", "p", col("p_min"), col("p_max"), nullD),
          row("o_orderdate", "d", col("d_min").cast("double"),
            col("d_max").cast("double"), nullD),
          row("o_orderpriority", "r", nullD, nullD, col("r_len")))).as("p"))
        .select(col("p.col_name"), col("n").as("n_rows"), col("p.n_nulls"),
          col("p.n_distinct"), col("p.nd_ok").as("nd_within_10pct"),
          col("p.min_num"), col("p.max_num"), col("p.avg_len"))
    },

    // ---- declarative constraint validation --------------------------
    // A check suite over orders: uniqueness, completeness, referential
    // integrity, range, domain membership, and format. Output is one row
    // per constraint with the violation count — some pass and some fail
    // on the fixtures, proving detection. Every check except refint is a
    // scalar aggregate off one scan; refint anti-joins KEYS only.
    QueryDef(
      "q_quality_constraints",
      """SELECT 'orderkey_unique' AS constraint_name,
        |  (count(*) - count(DISTINCT o_orderkey))::BIGINT AS violations,
        |  count(*) - count(DISTINCT o_orderkey) = 0 AS pass FROM orders
        |UNION ALL
        |SELECT 'custkey_complete', sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 FROM orders
        |UNION ALL
        |SELECT 'custkey_refint', count(*)::BIGINT, count(*) = 0 FROM orders o
        |  WHERE o.o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'totalprice_range', sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0 OR o_totalprice > 400000 THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0 OR o_totalprice > 400000 THEN 1 ELSE 0 END) = 0 FROM orders
        |UNION ALL
        |SELECT 'status_domain', sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) = 0 FROM orders
        |UNION ALL
        |SELECT 'priority_format', sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 1 ELSE 0 END) = 0 FROM orders
        |UNION ALL
        |SELECT 'orderdate_window', sum(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01' OR o_orderdate >= TIMESTAMP '2001-01-01' THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01' OR o_orderdate >= TIMESTAMP '2001-01-01' THEN 1 ELSE 0 END) = 0 FROM orders
        |""".stripMargin) { (s, d) =>
      val o = orders(s, d)
      checks(s, o, customer(s, d))
    },

    // ---- constraint-violation quarantine (detect -> ACT) ------------
    // The write half of the constraint suite: violators LEAVE the
    // pipeline into a quarantine parquet sink (the q_source_quarantine
    // precedent, where the parse-time kind of bad row does the same),
    // good rows continue — closing the detect->act pair the way despan
    // closes dup-spans. Fixtures are clean, so violations are PLANTED
    // deterministically (inject-then-detect, the repo precedent):
    // every 89th orderkey's status leaves the domain, every 97th's
    // totalprice flips negative, every 101st's priority lowercases.
    // A row failing several row-local checks quarantines ONCE with a
    // csv reason list (fixed check order, so the string is stable; no
    // array columns in outputs). The report re-reads the QUARANTINE
    // SINK — a survivor dropped or mangled by the write path breaks
    // the hash — and pins the violator set plus the n_good /
    // n_quarantined split (broadcast 1-row aggregate, rows never
    // re-shuffle for it).
    //
    // Scale shape: one narrow scan -> per-row predicates -> one
    // partitioned parquet write of the (tiny) violator slice; the
    // good/bad counts are one map-side-combined aggregate. Nothing
    // row-sized crosses an exchange.
    QueryDef(
      "q_quality_quarantine",
      """WITH o AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END AS st,
        |    CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice ELSE o_totalprice END AS tp,
        |    CASE WHEN o_orderkey % 101 = 0 THEN lower(o_orderpriority) ELSE o_orderpriority END AS pr
        |  FROM orders),
        |f AS (
        |  SELECT o_orderkey,
        |    concat_ws(',',
        |      CASE WHEN st NOT IN ('O', 'F', 'P') THEN 'status_domain' END,
        |      CASE WHEN tp IS NULL OR tp <= 0 OR tp > 400000 THEN 'totalprice_range' END,
        |      CASE WHEN NOT regexp_matches(pr, '^[1-5]-[A-Z ]+$') THEN 'priority_format' END) AS reasons
        |  FROM o),
        |c AS (
        |  SELECT count(CASE WHEN reasons = '' THEN 1 END) AS n_good,
        |    count(CASE WHEN reasons <> '' THEN 1 END) AS n_quarantined
        |  FROM f)
        |SELECT f.o_orderkey, f.reasons, c.n_good, c.n_quarantined
        |FROM f, c WHERE f.reasons <> ''
        |""".stripMargin) { (s, d) =>
      val dir = scratchDir(s, d, "quar_viol")
      val o = orders(s, d).select(
        col("o_orderkey"),
        when(col("o_orderkey") % 89 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("st"),
        when(col("o_orderkey") % 97 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")).as("tp"),
        when(col("o_orderkey") % 101 === 0, lower(col("o_orderpriority")))
          .otherwise(col("o_orderpriority")).as("pr"))
      val flagged = o.withColumn("reasons", concat_ws(",",
        when(!col("st").isin("O", "F", "P"), lit("status_domain")),
        when(col("tp").isNull || col("tp") <= 0 || col("tp") > 400000,
          lit("totalprice_range")),
        when(!col("pr").rlike("^[1-5]-[A-Z ]+$"), lit("priority_format"))))
      flagged.filter(col("reasons") =!= "")
        .write.mode("overwrite").parquet(dir)
      val counts = flagged.agg(
        count(when(col("reasons") === "", 1)).as("n_good"),
        count(when(col("reasons") =!= "", 1)).as("n_quarantined"))
      s.read.parquet(dir)
        .select(col("o_orderkey"), col("reasons"))
        .crossJoin(broadcast(counts))
    },

    // ---- join/shuffle skew profiler ---------------------------------
    // The diagnosis a 100 TB planner runs BEFORE a join: per-key
    // concentration of the two workhorse join keys, plus the one number
    // that predicts shuffle explosions — sum of squared key counts,
    // which IS the equi-self-join cardinality and the wedge-work bound
    // the linkPredict cap exists for (a million-degree hub shows up
    // here as a 10^12 before any join runs). Top-5 hot keys by
    // (count desc, key asc) — a total order over group keys, so the
    // limit is deterministic and plans as TakeOrderedAndProject; the
    // 1-row totals broadcast back. share_ppm is integer parts-per-
    // million (non-negative operands, so div == //). Benched since r11
    // (the profiler that warns about skew should itself be timed
    // evidence — two map-side-combined aggregates, cheap at any sf).
    QueryDef(
      "q_quality_skew",
      """WITH oc AS (SELECT o_custkey AS k, count(*)::BIGINT AS cnt FROM orders GROUP BY 1),
        |ot AS (SELECT sum(cnt)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
        |  max(cnt) AS max_cnt, sum(cnt * cnt)::BIGINT AS selfjoin_rows FROM oc),
        |otop AS (SELECT k, cnt FROM oc ORDER BY cnt DESC, k ASC LIMIT 5),
        |lc AS (SELECT l_partkey AS k, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1),
        |lt AS (SELECT sum(cnt)::BIGINT AS n_rows, count(*)::BIGINT AS n_keys,
        |  max(cnt) AS max_cnt, sum(cnt * cnt)::BIGINT AS selfjoin_rows FROM lc),
        |ltop AS (SELECT k, cnt FROM lc ORDER BY cnt DESC, k ASC LIMIT 5)
        |SELECT 'o_custkey' AS key_col, k, cnt,
        |  (cnt * 1000000) // n_rows AS share_ppm, n_rows, n_keys, max_cnt, selfjoin_rows
        |FROM otop, ot
        |UNION ALL
        |SELECT 'l_partkey', k, cnt,
        |  (cnt * 1000000) // n_rows, n_rows, n_keys, max_cnt, selfjoin_rows
        |FROM ltop, lt
        |""".stripMargin) { (s, d) =>
      def profile(df: DataFrame, keyCol: String): DataFrame = {
        val counts = df.select(col(keyCol).cast("long").as("k"))
          .groupBy("k").agg(count(lit(1)).as("cnt"))
        val tot = counts.agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"),
          max("cnt").as("max_cnt"),
          sum(col("cnt") * col("cnt")).as("selfjoin_rows"))
        counts.orderBy(col("cnt").desc, col("k").asc).limit(5)
          .crossJoin(broadcast(tot))
          .select(lit(keyCol).as("key_col"), col("k"), col("cnt"),
            expr("(cnt * 1000000L) div n_rows").as("share_ppm"),
            col("n_rows"), col("n_keys"), col("max_cnt"), col("selfjoin_rows"))
      }
      profile(orders(s, d), "o_custkey")
        .unionByName(profile(lineitem(s, d), "l_partkey"))
    },

    // ---- robust anomaly detection -----------------------------------
    // Median/MAD outlier flagging on document length per language — the
    // robust-z filter a curation pipeline runs to drop truncated or
    // runaway documents. The fixtures are uniform (no natural outliers),
    // so the query follows the repo's inject-then-detect precedent
    // (q_text_pii_redact): every 97th doc's length is deterministically
    // boosted 9x, and the detector must flag exactly that planted set.
    // Discrete (type-1) medians by rank selection keep every quantity an
    // integer — median, MAD, and the 5*MAD fence replay bit-exact, and
    // the rank-window shape is the one exact-quantile plan that survives
    // a billion-row group (see q_agg_quantile_rank).
    QueryDef(
      "q_quality_anomaly",
      """WITH obs AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 97 = 0 THEN n_chars * 9 ELSE n_chars END AS len
        |  FROM documents),
        |r AS (
        |  SELECT obs.*,
        |    row_number() OVER (PARTITION BY lang ORDER BY len, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM obs),
        |med AS (SELECT lang, max(CASE WHEN rn = (n + 1) // 2 THEN len END) AS med
        |  FROM r GROUP BY lang),
        |dev AS (
        |  SELECT obs.doc_id, obs.lang, obs.len, med.med,
        |    abs(obs.len - med.med) AS dev
        |  FROM obs JOIN med USING (lang)),
        |dr AS (
        |  SELECT dev.*,
        |    row_number() OVER (PARTITION BY lang ORDER BY dev, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM dev),
        |mad AS (SELECT lang, max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
        |  FROM dr GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.len, d.med, mad.mad
        |FROM dev d JOIN mad USING (lang)
        |WHERE d.dev > 5 * mad.mad
        |""".stripMargin) { (s, d) =>
      anomalies(documents(s, d)
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 97 === 0, col("n_chars") * 9)
            .otherwise(col("n_chars")).as("len")))
    },

    // ---- distribution drift detection -------------------------------
    // Snapshot-vs-snapshot drift: per-column histogram L1 distance
    // between a reference and a current view of orders — the monitor
    // that catches a pipeline silently changing its input distribution.
    // The fixture is one snapshot, so the current view plants drift
    // deterministically (inject-then-detect): every 3rd order's price is
    // boosted 25% (numeric shift) and every 5th URGENT order is
    // remapped to 5-LOW (categorical shift); o_custkey is untouched (a
    // no-drift control that must NOT flag). Numeric columns bin into
    // fixed-width buckets (floor of an IEEE division — identical in
    // both engines), categoricals bin by value hash; counts and the L1
    // distance are integers, so the replay is bit-exact. One aggregate
    // pass per snapshot, histogram rows (not row data) in the exchange.
    QueryDef(
      "q_quality_drift",
      """WITH ref AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders),
        |cur AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.25 ELSE o_totalprice END AS o_totalprice,
        |    CASE WHEN o_orderkey % 5 = 0 AND o_orderpriority = '1-URGENT' THEN '5-LOW' ELSE o_orderpriority END AS o_orderpriority
        |  FROM orders),
        |bins AS (
        |  SELECT 'o_totalprice' AS col_name, CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
        |    count(*)::BIGINT AS c, 0 AS side FROM ref GROUP BY 1, 2, 4
        |  UNION ALL SELECT 'o_totalprice', CAST(floor(o_totalprice / 50000) AS BIGINT), count(*)::BIGINT, 1 FROM cur GROUP BY 1, 2, 4
        |  UNION ALL SELECT 'o_custkey', o_custkey % 16, count(*)::BIGINT, 0 FROM ref GROUP BY 1, 2, 4
        |  UNION ALL SELECT 'o_custkey', o_custkey % 16, count(*)::BIGINT, 1 FROM cur GROUP BY 1, 2, 4
        |  UNION ALL SELECT 'o_orderpriority',
        |    ('0x' || substr(md5(o_orderpriority), 1, 15))::BIGINT % 16, count(*)::BIGINT, 0 FROM ref GROUP BY 1, 2, 4
        |  UNION ALL SELECT 'o_orderpriority',
        |    ('0x' || substr(md5(o_orderpriority), 1, 15))::BIGINT % 16, count(*)::BIGINT, 1 FROM cur GROUP BY 1, 2, 4),
        |l1 AS (
        |  SELECT col_name, bin,
        |    abs(coalesce(sum(CASE WHEN side = 0 THEN c END), 0)
        |      - coalesce(sum(CASE WHEN side = 1 THEN c END), 0)) AS l1
        |  FROM bins GROUP BY col_name, bin)
        |SELECT col_name, sum(l1)::BIGINT AS l1_dist,
        |  sum(l1) > 100 AS drifted
        |FROM l1 GROUP BY col_name
        |""".stripMargin) { (s, d) =>
      val ref = orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      val cur = orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") * 1.25)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        when(col("o_orderkey") % 5 === 0 && col("o_orderpriority") === "1-URGENT",
          lit("5-LOW")).otherwise(col("o_orderpriority")).as("o_orderpriority"))
      drift(ref, cur, numeric = Map("o_totalprice" -> 50000.0),
        modular = Seq("o_custkey"),
        categorical = Seq("o_orderpriority"), threshold = 100L)
    },

    // Winsorized robust mean — the outlier-tamed statistic beside the
    // median/MAD fence: per group, values clamp to the exact discrete
    // p10/p90 (rank selection over ONE ranked pass — the value at a
    // rank is permutation-invariant under ties, so no tie-break is
    // needed) and the mean of the clamped values accumulates as exact
    // decimal. The ranked relation is checkpointed once and feeds both
    // the bounds (a tiny aggregate, broadcast back) and the clamped
    // mean — one window shuffle total, the q_agg_quantile_rank
    // discipline extended to a second pass that never re-sorts.
    QueryDef(
      "q_quality_winsor",
      """WITH r AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice ASC) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |b AS (
        |  SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n_vals,
        |    max(CASE WHEN rn = (n + 9) // 10 THEN l_extendedprice END) AS lo,
        |    max(CASE WHEN rn = (9 * n + 9) // 10 THEN l_extendedprice END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT r.l_returnflag, max(b.n_vals) AS n_vals, max(b.lo) AS lo, max(b.hi) AS hi,
        |  CAST(round(sum(CAST(greatest(b.lo, least(b.hi, r.l_extendedprice)) AS DECIMAL(38,10))), 4) AS DOUBLE)
        |    / count(*) AS win_mean
        |FROM r JOIN b ON b.l_returnflag = r.l_returnflag
        |GROUP BY r.l_returnflag
        |""".stripMargin) { (s, d) =>
      val byVal = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice").asc)
      val li = lineitem(s, d).select("l_returnflag", "l_extendedprice")
      val sizes = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val ranked = li.join(broadcast(sizes), "l_returnflag")
        .withColumn("rn", row_number().over(byVal))
        .localCheckpoint() // bounds + clamped mean from one ranked pass
      val bounds = ranked.groupBy("l_returnflag")
        .agg(max(col("n")).as("n_vals"),
          max(when(col("rn") === expr("(n + 9) div 10"),
            col("l_extendedprice"))).as("lo"),
          max(when(col("rn") === expr("(9 * n + 9) div 10"),
            col("l_extendedprice"))).as("hi"))
      ranked.join(broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(max(col("n_vals")).as("n_vals"), max(col("lo")).as("lo"),
          max(col("hi")).as("hi"),
          (graft.Exact.decOut(sum(graft.Exact.dec(
            greatest(col("lo"), least(col("hi"), col("l_extendedprice"))))))
            / count(lit(1))).as("win_mean"))
    },

    // Benford first-digit audit — the data-forensics screen for
    // fabricated or unit-mangled numeric columns: the observed leading-
    // digit distribution of o_totalprice against Benford's law. The
    // expected probabilities log10(1 + 1/d) are pasted as LITERALS
    // (identical decimal strings parse to identical doubles in both
    // engines — no libm at query time); the digit comes from the
    // floored value's decimal string (explicit floor(): a bare
    // double->BIGINT cast truncates in Spark but ROUNDS in DuckDB);
    // shares divide exact longs. ONE aggregate pass over the scan plus
    // a 9-row broadcast of the totals — the whole audit is map-side.
    QueryDef(
      "q_quality_benford",
      """WITH dg AS (
        |  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |obs AS (SELECT digit, count(*)::BIGINT AS n FROM dg GROUP BY 1),
        |tot AS (SELECT sum(n)::BIGINT AS total FROM obs),
        |exp AS (
        |  SELECT * FROM (VALUES (1, 0.3010299956639812), (2, 0.17609125905568124),
        |    (3, 0.12493873660829992), (4, 0.09691001300805642),
        |    (5, 0.07918124604762482), (6, 0.06694678963061322),
        |    (7, 0.05799194697768673), (8, 0.05115252244738129),
        |    (9, 0.04575749056067514)) AS t(digit, expected))
        |SELECT exp.digit, coalesce(obs.n, 0) AS n,
        |  CAST(coalesce(obs.n, 0) AS DOUBLE) / tot.total AS share,
        |  exp.expected,
        |  abs(CAST(coalesce(obs.n, 0) AS DOUBLE) / tot.total - exp.expected) AS abs_dev
        |FROM exp LEFT JOIN obs ON obs.digit = exp.digit CROSS JOIN tot
        |""".stripMargin) { (s, d) =>
      val expected = Seq(1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
        3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
        5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
        9 -> 0.04575749056067514)
      val sSpark = s
      import sSpark.implicits._
      val exp = expected.toDF("digit", "expected")
      val obs = orders(s, d).filter(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = obs.agg(sum("n").as("total"))
      broadcast(exp)
        .join(obs, Seq("digit"), "left")
        .crossJoin(broadcast(tot))
        .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
          (coalesce(col("n"), lit(0L)).cast("double") / col("total")).as("share"),
          col("expected"),
          abs(coalesce(col("n"), lit(0L)).cast("double") / col("total")
            - col("expected")).as("abs_dev"))
    },

    // EMBEDDING-space drift monitor (r13) — the check a crawl pipeline
    // runs when a new batch of vectors arrives from a re-trained or
    // drifting encoder: per-DIMENSION mean shift against the reference
    // corpus (the classic embedding-distribution fingerprint; histogram
    // L1 in q_quality_drift covers scalar columns, but sign-LSH bucket
    // histograms are blind to rotations, so moments per dimension are
    // the honest signal here). Inject-then-detect, the q_quality_anomaly
    // pattern: the 'shifted' split (vec_id % 2 = 1) gets +0.5 planted
    // on dimension 7 in-flight; the untouched 'control' split is its
    // own negative control and must NOT drift (its means differ from
    // the full-corpus reference only by half-sample noise, orders of
    // magnitude under the 0.1 fence). All means follow the repo rule —
    // decOut(decimal sum) / count in both engines — and the shift lands
    // as integer micro-units, so the verdict is exact. Scale: one
    // posexplode into (dim, x) keys, two map-side-combined aggregates
    // over |dims|-sized groups, and the final join touches 64-row
    // frames — vectors never shuffle.
    QueryDef(
      "q_quality_drift_embedding",
      Quality.embeddingDriftOracle) { (s, d) =>
      val e = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
        .select(col("vec_id"), col("i"), col("xf").cast("double").as("x"))
      val ref = e.groupBy("i")
        .agg(decOut(sum(dec(col("x")))).as("rs"), count(lit(1)).as("rc"))
      val cur = e
        .withColumn("split",
          when(col("vec_id") % 2 === 1, "shifted").otherwise("control"))
        .withColumn("xi",
          when(col("split") === "shifted" && col("i") === 7, col("x") + 0.5)
            .otherwise(col("x")))
        .groupBy("split", "i")
        .agg(decOut(sum(dec(col("xi")))).as("cs"), count(lit(1)).as("cc"))
      cur.join(broadcast(ref), Seq("i"))
        .withColumn("shift_u",
          floor(abs(col("rs") / col("rc") - col("cs") / col("cc")) * 1000000))
        .groupBy("split")
        .agg(sum(when(col("shift_u") > 100000, 1L).otherwise(0L)).as("n_dims_drifted"),
          max(col("shift_u")).as("max_shift_u"))
        .withColumn("drifted", col("n_dims_drifted") > 0)
    }
  )

  /** DuckDB statement of the embedding-drift fixpoint — shared verbatim
    * by q_quality_drift_embedding and its ingest twin
    * q_stream_drift_embedding (the stream accumulates the SAME decimal
    * sums per batch and rounds once at read-out, so its output IS this
    * fixpoint). */
  // a def, not a val: `defs` above reads this during object init, and a
  // val defined below it would still be null there (the r11 ordering slip
  // the oracle-hygiene lint exists for)
  private[graft] def embeddingDriftOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, st.i AS i, st.x AS x
        |      FROM (SELECT vec_id, unnest([{'i': i, 'x': v[i+1]} for i in range(0, len(v))]) AS st FROM e) u),
        |ref AS (
        |  SELECT i, CAST(round(sum(CAST(x AS DECIMAL(38,10))), 4) AS DOUBLE) AS rs,
        |    count(*)::BIGINT AS rc
        |  FROM x GROUP BY i),
        |cur AS (
        |  SELECT CASE WHEN vec_id % 2 = 1 THEN 'shifted' ELSE 'control' END AS split, i,
        |    CAST(round(sum(CAST(CASE WHEN vec_id % 2 = 1 AND i = 7 THEN x + 0.5 ELSE x END
        |                        AS DECIMAL(38,10))), 4) AS DOUBLE) AS cs,
        |    count(*)::BIGINT AS cc
        |  FROM x GROUP BY 1, 2)
        |SELECT split,
        |  sum(CASE WHEN shift_u > 100000 THEN 1 ELSE 0 END)::BIGINT AS n_dims_drifted,
        |  max(shift_u) AS max_shift_u,
        |  sum(CASE WHEN shift_u > 100000 THEN 1 ELSE 0 END) > 0 AS drifted
        |FROM (SELECT c.split,
        |        CAST(floor(abs(r.rs / r.rc - c.cs / c.cc) * 1000000) AS BIGINT) AS shift_u
        |      FROM cur c JOIN ref r ON r.i = c.i) t
        |GROUP BY split
        |""".stripMargin

  /** Histogram-L1 drift between two snapshots of the same schema: each
    * snapshot reduces to (column, bin, count) histogram rows in one
    * aggregate pass — row data never shuffles; the L1 fold runs over
    * 2 x |bins| rows. Numeric columns use fixed-width buckets, modular
    * integer columns bucket by `% 16`, categoricals by `h60 % 16`. */
  private[graft] def drift(ref: DataFrame, cur: DataFrame,
      numeric: Map[String, Double], modular: Seq[String],
      categorical: Seq[String], threshold: Long): DataFrame = {
    import graft.Exact.h60
    def hist(df: DataFrame, side: Int): DataFrame = {
      val parts = numeric.toSeq.map { case (c, w) =>
        df.groupBy(floor(col(c) / w).cast("long").as("bin"))
          .agg(count(lit(1)).as("c"))
          .select(lit(c).as("col_name"), col("bin"), col("c"),
            lit(side).as("side"))
      } ++ modular.map { c =>
        df.groupBy((col(c) % 16).as("bin")).agg(count(lit(1)).as("c"))
          .select(lit(c).as("col_name"), col("bin"), col("c"),
            lit(side).as("side"))
      } ++ categorical.map { c =>
        df.groupBy((h60(col(c)) % 16).as("bin")).agg(count(lit(1)).as("c"))
          .select(lit(c).as("col_name"), col("bin"), col("c"),
            lit(side).as("side"))
      }
      parts.reduce(_ unionAll _)
    }
    hist(ref, 0).unionAll(hist(cur, 1))
      .groupBy("col_name", "bin")
      .agg(abs(coalesce(sum(when(col("side") === 0, col("c"))), lit(0L)) -
        coalesce(sum(when(col("side") === 1, col("c"))), lit(0L))).as("l1"))
      .groupBy("col_name")
      .agg(sum("l1").as("l1_dist"))
      .select(col("col_name"), col("l1_dist"),
        (col("l1_dist") > threshold).as("drifted"))
  }

  /** Median/MAD robust outlier detection on (doc_id, lang, len): rows
    * whose deviation from the per-lang discrete median exceeds 5x the
    * discrete median absolute deviation. Group sizes come from a tiny
    * broadcast pre-aggregate, so each metric costs ONE rank window over
    * the fact rows (never a second whole-partition window pass). */
  private[graft] def anomalies(obs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = obs.groupBy("lang").agg(count(lit(1)).as("n"))
    val med = obs.join(broadcast(sizes), "lang")
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("len"), col("doc_id"))))
      .groupBy("lang")
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("len"))).as("med"))
    val dev = obs.join(broadcast(med), "lang")
      .withColumn("dev", abs(col("len") - col("med")))
    val mad = dev.join(broadcast(sizes), "lang")
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("dev"), col("doc_id"))))
      .groupBy("lang")
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("dev"))).as("mad"))
    dev.join(broadcast(mad), "lang")
      .filter(col("dev") > lit(5) * col("mad"))
      .select("doc_id", "lang", "len", "med", "mad")
  }

  /** The constraint suite as a reusable library call (graft.api surface
    * uses the query above as its registry face). */
  private[graft] def checks(
      s: SparkSession, o: DataFrame, cust: DataFrame): DataFrame = {
    def viol(name: String, violations: Column): DataFrame =
      o.agg(violations.cast("long").as("violations"))
        .select(lit(name).as("constraint_name"), col("violations"),
          (col("violations") === 0L).as("pass"))
    val unique = viol("orderkey_unique",
      count(lit(1)) - count_distinct(col("o_orderkey")))
    val complete = viol("custkey_complete",
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)))
    // referential integrity: keys-only anti join — at scale both sides
    // project to the key before the shuffle
    val refint = o.filter(col("o_custkey").isNotNull).select("o_custkey")
      .join(cust.select("c_custkey"),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("custkey_refint").as("constraint_name"), col("violations"),
        (col("violations") === 0L).as("pass"))
    val range = viol("totalprice_range",
      sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0
        || col("o_totalprice") > 400000, 1L).otherwise(0L)))
    val domain = viol("status_domain",
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)))
    val format = viol("priority_format",
      sum(when(!col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$"), 1L).otherwise(0L)))
    val window = viol("orderdate_window",
      sum(when(col("o_orderdate") < lit("1995-01-01").cast("timestamp")
        || col("o_orderdate") >= lit("2001-01-01").cast("timestamp"), 1L)
        .otherwise(0L)))
    unique.union(complete).union(refint).union(range).union(domain)
      .union(format).union(window)
  }
}
