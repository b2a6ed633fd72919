package graft

import graft.sources.Tables
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** The plans we'd want at 100 TB, asserted — not eyeballed.
  * (Pushdown/pruning/broadcast/partial-agg shapes from the builder spec.) */
class PlanShapeSpec extends SparkSpec {

  private def executedPlan(df: org.apache.spark.sql.DataFrame): SparkPlan = {
    df.collect() // materialize so AQE finalizes
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def planString(name: String): String =
    executedPlan(q(name)).toString

  test("scan query pushes filters and prunes columns at the parquet scan") {
    val p = planString("q_scan_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)")
      || p.contains("PushedFilters: ["), p)
    assert(!p.contains("l_tax"), "unused column not pruned:\n" + p)
  }

  test("a warm multi-table SQL query builds without running a Spark job") {
    // each base-table read resolves its schema once (Tables.table); a
    // bare read ran one footer-inference job per table, here three
    q("q_sql_shipping_priority")
    assert(jobsDuring(q("q_sql_shipping_priority")) == 0)
  }

  test("a small recursive CTE runs one job per recursion level") {
    def warmJobs(df: => org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      jobsDuring(df.collect())
    }
    // 6 jobs: the anchor's result job; the one level's two broadcasts
    // and result job; the final aggregate's shuffle and result job.
    // Spark's UnionLoopExec (repartition, count and collect per level)
    // ran 12
    val recursive = warmJobs(q("q_sql_recursive"))
    assert(recursive <= 6, s"q_sql_recursive ran $recursive jobs")
    // every level folds to a LocalRelation: only the final collect runs,
    // as under Spark's operator (1 job there too)
    val counter = warmJobs(spark.sql(
      "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 30) " +
        "SELECT n FROM t"))
    assert(counter <= 1, s"SELECT 1 counter ran $counter jobs")
  }

  test("a warm change-feed pass runs each merge in 4 jobs") {
    def pass(): Unit = q("q_stream_changefeed").write.format("noop").mode("overwrite").save()
    pass()
    // the commit (2), each merge's delta pass (2: its shuffle and the
    // checkpoint that also folds the key spans) and write (2: the base
    // side's shuffle and the write; the checkpointed delta keeps its key
    // partitioning), and the fold (3). The 3 change-feed batches run
    // under the stream's own job group, which jobsDuring does not count
    val jobs = jobsDuring(pass())
    assert(jobs <= 13, s"q_stream_changefeed ran $jobs jobs")
  }

  test("dim-dim join is a broadcast hash join") {
    val p = planString("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("aggregations run partial before the exchange") {
    // AQE query-stage wrappers hide children from collect(); assert on the
    // rendered plan: a partial_sum below the Exchange, a final agg above
    val p = planString("q_agg_pricing_summary")
    assert(p.contains("partial_sum"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.indexOf("partial_sum") > p.indexOf("Exchange"),
      "partial agg should be below the exchange:\n" + p)
  }

  test("global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = planString("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("hash samplers are scan + filter only — no shuffle, no RNG") {
    val p = planString("q_sample_systematic")
    assert(!p.contains("Exchange"), "sampler must not shuffle:\n" + p)
    assert(!p.toLowerCase.contains("rand"), "sampler must be RNG-free:\n" + p)
  }

  test("train/val/test split shuffles only for the final count aggregate") {
    val p = planString("q_split_train")
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial_count") || p.contains("partial"),
      "split counts need map-side partial agg:\n" + p)
  }

  test("simhash builds votes in ONE aggregation — no 60x row explosion") {
    val p = planString("q_dedup_simhash")
    // the 60 bit-votes are aggregate columns over (doc, tok) rows; an
    // Expand/explode of 60 rows per token would be a 60x shuffle at scale
    assert(!p.contains("Expand"), "bit votes must not Expand rows:\n" + p)
  }

  test("approx profile has NO Expand — the exact profile's multi-distinct does") {
    val approx = planString("q_quality_profile_approx")
    assert(!approx.contains("Expand"),
      "approx profile must stay all-algebraic (no multi-distinct Expand):\n" + approx)
    // and the exact twin genuinely pays the Expand this query avoids
    assert(planString("q_quality_profile").contains("Expand"))
  }

  test("tf-idf: corpus size N is a broadcast, not a shuffle key") {
    val p = planString("q_text_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("minhash verify intersects per-doc shingle arrays in-row") {
    // the exact-Jaccard verify must not re-shuffle the exploded shingle
    // relation against the candidate pairs — the intersection happens in
    // a projection over per-doc arrays
    val p = planString("q_dedup_minhash")
    assert(p.contains("array_intersect"), p)
  }

  test("minhash signatures are row-local: native kernel, no (doc_id, shingle) aggregate") {
    // the per-doc arrays are built and checkpointed in their own action,
    // so pin the plans of EVERY action the query runs, not only its last
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      planString("q_dedup_minhash")
      // the listener bus is async: wait for the checkpoint and the collect
      val deadline = System.nanoTime() + 30e9.toLong
      while (plans.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size >= 2, s"saw ${plans.size} executions")
    def expand(sp: SparkPlan): Seq[SparkPlan] = sp match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => expand(q.plan)
      case other => other +: other.children.flatMap(expand)
    }
    val nodes = plans.toArray(Array.empty[SparkPlan]).toSeq.flatMap(expand)
    assert(nodes.exists(_.expressions.exists(_.toString.contains("minhashsig("))),
      "signature must come from MinHashSig:\n" + nodes.map(_.verboseString(200)).mkString("\n"))
    val keyed = nodes.collect {
      case a: BaseAggregateExec => a.groupingExpressions.map(_.toString.toLowerCase)
    }
    assert(keyed.nonEmpty, "expected the doc_id merge and candidate aggregates")
    keyed.foreach(keys => assert(!keys.exists(_.contains("shingle")),
      s"aggregate keyed on a shingle column: $keys"))
  }

  test("text windows and tokenizers plan no lambda function") {
    // one tokenizer (array_remove over a split) and one window kernel (a
    // regex pass) serve these queries: no interpreted higher-order
    // function runs per token or per window. Their shingle relations
    // are checkpointed in their own actions, so every execution's
    // optimized plan is checked, not only the last.
    import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.util.QueryExecutionListener
    def lambdas(e: Expression): Seq[Expression] = e.collect { case l: LambdaFunction => l }
    Seq("q_dedup_ngram_jaccard", "q_dedup_containment", "q_dedup_decontaminate_ngram",
      "q_text_dupspans", "q_text_source_overlap", "q_text_novelty", "q_wordcount"
    ).foreach { name =>
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          plans.add(qe.optimizedPlan)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      // jobsDuring returns once the listener bus has delivered every
      // event the body posted, execution ends included
      try jobsDuring(q(name).write.format("noop").mode("overwrite").save())
      finally spark.listenerManager.unregister(listener)
      val all = plans.toArray(Array.empty[LogicalPlan]).toSeq
      assert(all.size >= 1, s"$name: saw no execution")
      val found = all.flatMap(_.collect { case n => n.expressions.flatMap(lambdas) }.flatten)
      assert(found.isEmpty, s"$name plans a lambda:\n" + found.mkString("\n"))
    }
  }

  test("minhash band keys evaluate each document's signature once") {
    // a generator filter inferred on a `keys` column and pushed down
    // through the projections would inline the signature into it once
    // per band-key element
    val docs = graft.api.Graft.shingleArrays(Tables.documents(spark, sf), "doc_id", "text")
    val plan = graft.api.Graft.minhashBandKeys(docs).queryExecution.optimizedPlan
    val sigs = plan.collect { case n =>
      n.expressions.map(_.collect { case m: graft.functions.MinHashSig => m }.size).sum
    }.sum
    assert(sigs == 1, plan.treeString)
  }

  test("knn probes broadcast the query set against the corpus") {
    val p = planString("q_knn_ivf")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("bpe encode broadcasts the VOCAB side, never the corpus token stream") {
    // At fixture scale Catalyst would broadcast the (locally tiny)
    // corpus explode — the side that is 100 TB in production. The query
    // forces the build side; this pins it.
    val p = planString("q_text_bpe_encode")
    assert(p.contains("BroadcastHashJoin") && p.contains("BuildRight")
        && !p.contains("BuildLeft"),
      "vocab must be the broadcast build side:\n" + p)
  }

  test("bloom join: sketch is broadcast, probe side never shuffles before the agg") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = executedPlan(q("q_join_bloom"))
    val p = plan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the one-row bloom array must broadcast:\n" + p)
    // probe pass is narrow: the only SHUFFLES allowed are the bloom
    // build (word agg + single-partition array assembly, both over <=512
    // rows) and the final per-flag agg — never the lineitem probe scan
    // (walk query-stage subtrees too: AQE hides materialized stages from
    // a plain collect)
    def shuffles(sp: org.apache.spark.sql.execution.SparkPlan): Int =
      (sp match {
        case _: ShuffleExchangeLike => 1
        case _ => 0
      }) + sp.children.map(shuffles).sum + (sp match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          shuffles(q.plan)
        case _ => 0
      })
    assert(shuffles(plan) <= 3,
      "only build-side (2) + final agg (1) may shuffle:\n" + p)
    // ...and the probe path itself: the BNLJ's streamed (left) side is
    // the lineitem scan with NO exchange in between
    def findBnlj(sp: org.apache.spark.sql.execution.SparkPlan)
        : Option[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] =
      sp match {
        case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => Some(b)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => findBnlj(q.plan)
        case other => other.children.view.flatMap(findBnlj).headOption
      }
    val bnlj = findBnlj(plan)
    assert(bnlj.nonEmpty, "bloom probe BNLJ missing:\n" + p)
    assert(shuffles(bnlj.get.left) == 0,
      "probe scan must feed the bloom BNLJ with no shuffle:\n" + p)
  }

  test("bucketed co-located join needs no shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    // a previous JVM's in-memory catalog leaves orphan dirs behind
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Seq("li_b", "o_b").foreach { t =>
      val dir = new java.io.File(wh, t)
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => p.toFile.delete())
      }
    }
    operators.Bucketing.writeBucketed(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
      "li_b", "l_orderkey", buckets = 8)
    operators.Bucketing.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
      "o_b", "o_orderkey", buckets = 8)
    val joined = operators.Bucketing.colocatedJoin(
      spark, "li_b", "o_b", "l_orderkey", "o_orderkey")
    val plan = executedPlan(joined)
    val exchanges = plan.collect { case e: Exchange => e }
    assert(exchanges.isEmpty,
      "bucketed join should not shuffle:\n" + plan)
    assert(joined.count() == Tables.lineitem(spark, sf).count())
  }

  test("bucketed CDC merge: base side feeds the full-outer join with no shuffle") {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plan = executedPlan(q("q_pipeline_upsert_bucketed"))
    def findSmj(sp: SparkPlan): Option[SortMergeJoinExec] = sp match {
      case s: SortMergeJoinExec => Some(s)
      case qs: QueryStageExec => findSmj(qs.plan)
      case other => other.children.view.flatMap(findSmj).headOption
    }
    def shuffles(sp: SparkPlan): Int =
      (sp match { case _: ShuffleExchangeLike => 1; case _ => 0 }) +
        sp.children.map(shuffles).sum + (sp match {
          case qs: QueryStageExec => shuffles(qs.plan)
          case _ => 0
        })
    val smj = findSmj(plan)
    assert(smj.nonEmpty, "full-outer merge should be a sort-merge join:\n" + plan)
    assert(shuffles(smj.get.left) == 0,
      "bucketed base must reach the merge join without an Exchange — " +
        "only the change batch may move:\n" + plan)
    assert(shuffles(smj.get.right) >= 1,
      "change batch shuffles into the base's bucket layout:\n" + plan)
  }

  test("partitioned layout read prunes partition directories at the scan") {
    val p = planString("q_layout_partition_prune")
    assert(p.contains("PartitionFilters: ") &&
      """PartitionFilters: \[[^\]]*o_orderstatus""".r.findFirstIn(p).isDefined,
      "status filter must prune at the DIRECTORY level, not post-scan:\n" + p)
  }

  test("dim filter prunes fact partitions at RUNTIME (dynamic partition pruning)") {
    // the filter lives on the JOINED dim column, so plan-time
    // PartitionFilters can't know the surviving event_type values — the
    // fact scan must instead carry a dynamicpruning expression fed by
    // the broadcast dim (the star-schema prune at 100 TB)
    val p = planString("q_layout_dpp")
    assert(p.contains("dynamicpruning"),
      "fact scan must be dynamically pruned by the dim filter:\n" + p)
  }

  test("snapshot reads plan ONE scan per version read, never one per manifest entry") {
    // Snapshots.read serves the manifest's FILE LIST as the scan's file
    // index (Bridge.manifestFileScan), so the timetravel query — two
    // version reads, each over a multi-partition multi-file manifest —
    // must hold exactly TWO FileScan nodes. A per-entry union fold would
    // show one scan per entry, the plan shape that explodes at 10^3-10^4
    // partitions. (The 120-partition single-scan case, the partition-
    // filter prune, and the per-file bounds skip live in SnapshotsSpec.)
    val p = planString("q_layout_timetravel")
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      "expected exactly 2 scan nodes (one per version read):\n" + p)
    // the SQL surface (USING graft_snapshot temp views, VERSION AS OF)
    // must plan IDENTICALLY — same relation, same index, no wrapper cost
    val sqlP = planString("q_layout_sql_timetravel")
    assert("FileScan parquet".r.findAllIn(sqlP).size == 2,
      "SQL VERSION AS OF reads must plan the same two scans:\n" + sqlP)
  }

  test("registry invariant: no unpartitioned Window or CartesianProduct in any query plan") {
    // A Window with an empty partitionSpec funnels its entire input through
    // ONE task — the canonical single-node scale-killer. Sweep every
    // registered query's optimized logical plan. The plan WALK itself needs
    // no execution, but CONSTRUCTION is not free for every query: the
    // iterative dedup queries run eager localCheckpoint jobs and the
    // bucketed-upsert query writes its base table while building — this
    // sweep deliberately pays that (~tens of seconds at sf0.001) to keep
    // the invariant registry-wide rather than allowlist a moving subset.
    //
    // Allowlist = windows whose input is provably bounded by the PARTITION
    // COUNT, not the data size (the ranged-ranking pattern):
    val allow = Map(
      // prefix offsets: one row per range partition (<= 32 rows at any SF)
      "q_parity_sort" -> "offsets window over one row per range partition"
    )
    // Streaming-replay queries are excluded: building their DataFrame RUNS
    // the whole micro-batch replay (minutes of wall clock), and the value
    // they return is a memory-sink table scan in which a Window cannot
    // appear; their internal plans are pinned by WatermarkSpec /
    // StreamingRobustnessSpec.
    val isStreamReplay = (n: String) => n.endsWith("_stream") ||
      n.startsWith("q_stream_") || n == "q_join_stream_left"
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(allow.contains).filterNot(isStreamReplay)
      .flatMap { name =>
        val t0 = System.nanoTime()
        val df = q(name)
        val badWin = df.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        // physical INITIAL plan (no execution): a CartesianProductExec is
        // the non-broadcast NxM join — never acceptable; a cross of a
        // genuinely tiny side must plan as BroadcastNestedLoopJoin
        def cartesians(sp: org.apache.spark.sql.execution.SparkPlan): Int =
          (sp match {
            case _: org.apache.spark.sql.execution.joins.CartesianProductExec => 1
            case _ => 0
          }) + sp.children.map(cartesians).sum
        val physical = df.queryExecution.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.initialPlan
          case p => p
        }
        val nCart = cartesians(physical)
        val ms = (System.nanoTime() - t0) / 1000000
        if (ms > 2000) info(s"slow plan build: $name ${ms}ms")
        (if (badWin.nonEmpty)
           Seq(s"$name (${badWin.size} unpartitioned Window)") else Nil) ++
          (if (nCart > 0) Seq(s"$name ($nCart CartesianProduct)") else Nil)
      }
    assert(offenders.isEmpty,
      "single-task sorts / NxM joins — scale-killers:\n  "
        + offenders.mkString("\n  "))
  }
}
