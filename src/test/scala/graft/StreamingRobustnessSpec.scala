package graft

import graft.streaming.Streaming
import org.apache.spark.sql.functions._

/** Production streaming behaviors beyond result correctness: the RocksDB
  * state backend (what a real cluster runs for large state) and
  * stop/restart recovery from a checkpoint (state + source progress
  * survive the restart). */
class StreamingRobustnessSpec extends SparkSpec {
  import spark.implicits._

  test("RocksDB state store backend produces identical streaming results") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val viaRocks = Streaming.tumblingStream(spark, sf)
        .collect().map(_.toSeq).toSet
      val batch = q("q_events_tumbling").collect().map(_.toSeq).toSet
      assert(viaRocks == batch,
        "RocksDB-backed stream must equal the batch twin")
      assert(viaRocks.nonEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("Verify.runBounded cancels a wedged query and the session stays usable") {
    // tasks wedged in an INTERRUPTIBLE wait (the realistic hang: a stuck
    // source/sink, not a spinning codegen loop — see runBounded's caveat)
    val t0 = System.nanoTime()
    val res = Verify.runBounded(spark, "wedge_test", timeoutMs = 2000) {
      spark.range(8).repartition(8).mapPartitions { it =>
        Thread.sleep(600000); it
      }(org.apache.spark.sql.Encoders.LONG).count(): Unit
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    assert(res.exists(_.contains("timeout")), s"expected timeout, got $res")
    assert(elapsedS < 30, s"cancel must not linger (took $elapsedS s)")
    // cancelled tasks die on interrupt; the scheduler is usable again
    assert(spark.range(10).count() == 10)
    // ...and a healthy body returns None
    assert(Verify.runBounded(spark, "ok_test", 30000) {
      spark.range(5).count(): Unit
    }.isEmpty)
  }

  test("stream restarts from checkpoint: source progress and agg state survive") {
    // two files of (event_type) rows; phase 1 sees only file A, phase 2
    // starts a NEW query on the SAME checkpoint after file B appears. If
    // state/progress did not recover, the final complete-mode counts
    // would cover only file B.
    val dir = tempDir("graft_ckpt_src")
    val ckpt = tempDir("graft_ckpt")
    def writeFile(rows: Seq[String]): Unit =
      rows.toDF("event_type").coalesce(1).write
        .mode("append").parquet(dir)

    writeFile(Seq.fill(70)("click") ++ Seq.fill(30)("view"))
    val schema = spark.read.parquet(dir).schema
    def start(name: String) = spark.readStream.schema(schema).parquet(dir)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName(name).option("checkpointLocation", ckpt).start()

    val q1 = start("ckpt_phase1")
    Streaming.drain(q1) // drain() also stops the query
    val phase1 = spark.table("ckpt_phase1").as[(String, Long)].collect().toMap
    assert(phase1 == Map("click" -> 70L, "view" -> 30L))

    writeFile(Seq.fill(5)("click") ++ Seq.fill(25)("purchase"))
    val q2 = start("ckpt_phase2")
    Streaming.drain(q2)
    val phase2 = spark.table("ckpt_phase2").as[(String, Long)].collect().toMap
    assert(phase2 == Map("click" -> 75L, "view" -> 30L, "purchase" -> 25L),
      s"state must carry phase-1 counts across the restart, got $phase2")
  }

  test("streamUpsert folds the change feed over MULTIPLE micro-batches") {
    // the oracle can't see batching — this asserts the foreachBatch fold
    // actually ran >1 admission-controlled batch AND still converged to
    // the batch fixpoint (latest change per key, tombstones dropped)
    val (state, applied) = Streaming.streamUpsertCounted(spark, sf, batches = 3)
    assert(applied >= 2, s"expected a multi-batch fold, got $applied batch(es)")
    val expected = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(max(col("event_id")).as("event_id"),
        max_by(col("value"), col("event_id")).as("v"))
      .filter(col("event_id") % 29 =!= 0)
    assert(state.count() > 0)
    assert(state.exceptAll(expected).isEmpty && expected.exceptAll(state).isEmpty,
      "streamed fold must equal the batch fixpoint")
  }

  test("streamIvm maintains the rollup by retraction across MULTIPLE batches") {
    // Incremental view maintenance is only incremental if >1 batch ran —
    // and only correct if every update RETRACTED the key's old
    // contribution before adding the new one (keys mutate across
    // batches: each user has ~10 feed records split over >= 2 batches).
    val (view, applied) = Streaming.streamIvmCounted(spark, sf, batches = 3)
    assert(applied >= 2, s"expected a multi-batch fold, got $applied batch(es)")
    val expected = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(max(col("event_id")).as("event_id"),
        max_by(col("value"), col("event_id")).as("v"))
      .filter(col("event_id") % 29 =!= 0)
      .groupBy((col("user_id") % 10).as("cohort"))
      .agg(count(lit(1)).as("n_users"),
        graft.Exact.decOut(sum(graft.Exact.dec(col("v")))).as("sum_v"))
    assert(view.count() > 0)
    assert(view.exceptAll(expected).isEmpty && expected.exceptAll(view).isEmpty,
      "incrementally maintained view must equal the batch rollup")
  }

  test("streamRetention re-cohorts by retraction across MULTIPLE batches") {
    // the fixture feeds event_ids DESCENDING, so later batches carry
    // EARLIER activity: users' min-week cohorts move mid-stream and the
    // triangle is only correct if every move retracted the user's cells
    // under the old cohort. The check is the batch triangle fixpoint —
    // and batching-invariance: one mega-batch and four batches agree.
    val (view, applied) = Streaming.streamRetentionCounted(spark, sf, batches = 4)
    assert(applied >= 2, s"expected a multi-batch fold, got $applied batch(es)")
    val expected = q("q_events_retention")
    assert(view.count() > 0)
    assert(view.exceptAll(expected).isEmpty && expected.exceptAll(view).isEmpty,
      "incrementally maintained triangle must equal the batch fixpoint")
    val (oneShot, _) = Streaming.streamRetentionCounted(spark, sf, batches = 1)
    assert(oneShot.exceptAll(view).isEmpty && view.exceptAll(oneShot).isEmpty,
      "result must be batching-invariant")
  }

  test("streamCardinality: KMV estimates are batching-invariant and match the batch sketch") {
    // keep-k-smallest of unions is a semilattice merge: one mega-batch
    // and three batches must land on the identical sketch, and the
    // sketch equals the batch KMV built from the same key sets.
    val (est3, applied) = Streaming.streamCardinalityCounted(spark, sf, batches = 3)
    assert(applied >= 2, s"expected a multi-batch fold, got $applied batch(es)")
    val r3 = est3.collect()
    assert(r3.nonEmpty)
    val (est1, _) = Streaming.streamCardinalityCounted(spark, sf, batches = 1)
    assert(est1.exceptAll(est3).isEmpty && est3.exceptAll(est1).isEmpty,
      "KMV monitor must be batching-invariant")
    // against the batch twin: q_agg_kmv's est column on the same events
    val batchEst = q("q_agg_kmv").select("event_type", "est").collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("est")).toMap
    r3.foreach { r =>
      assert(r.getAs[Long]("est") == batchEst(r.getAs[String]("event_type")),
        s"stream KMV diverged from batch KMV for ${r.getAs[String]("event_type")}")
    }
  }

  test("streamEwma: the sequential fold carries state across MULTIPLE batches bit-exactly") {
    // EWMA is NOT order-free — this is the one monitor where batching
    // correctness rests on the feed's per-user order contract plus the
    // state carry, so the multi-batch run must equal both the one-batch
    // run and the batch analytic (same fold, same order) to the last bit
    val (e3, applied) = Streaming.streamEwmaCounted(spark, sf, batches = 3)
    assert(applied >= 2, s"expected a multi-batch fold, got $applied batch(es)")
    val got3 = e3.collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got3.nonEmpty)
    val (e1, _) = Streaming.streamEwmaCounted(spark, sf, batches = 1)
    val got1 = e1.collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got3 == got1, "EWMA state carry must make batching invisible")
    val batch = q("q_events_ewma").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got3 == batch, "streamed fold must equal the batch analytic bit-exactly")
  }

  test("streamCountmin: cells fold additively, so estimates are batching-invariant") {
    // cell-wise addition commutes and associates: one mega-batch and
    // three batches must land on the identical sketch, and est >= cnt
    // for every reported user (collisions only ever inflate)
    val (est3, applied) = Streaming.streamCountminCounted(spark, sf, batches = 3)
    assert(applied >= 2, s"expected a multi-batch fold, got $applied batch(es)")
    val r3 = est3.collect()
    // top-20 report, capped by the fixture's distinct-user count
    assert(r3.nonEmpty && r3.length <= 20)
    r3.foreach { r =>
      assert(r.getAs[Long]("est") >= r.getAs[Long]("cnt"),
        s"count-min under-counted user ${r.getAs[Long]("user_id")}")
    }
    val (est1, _) = Streaming.streamCountminCounted(spark, sf, batches = 1)
    assert(est1.exceptAll(est3).isEmpty && est3.exceptAll(est1).isEmpty,
      "count-min monitor must be batching-invariant")
  }

  test("streamHeavyHitters: the support guarantee holds under ANY batching") {
    // MG counter VALUES may differ across merge groupings; the REPORT
    // (exact counts + guarantee verdict) must not. Three schedules —
    // one mega-batch, the default 3, and 5 — must emit the identical
    // report, and every key above the support threshold must be ok
    // (the sketch caught it) — the Agarwal et al. merge bound.
    val (r3df, applied) = Streaming.streamHeavyHittersCounted(spark, sf, batches = 3)
    assert(applied >= 2, s"expected a multi-batch fold, got $applied batch(es)")
    val r3 = r3df.collect()
    assert(r3.nonEmpty)
    assert(r3.forall(_.getAs[Boolean]("ok")),
      "a heavy key escaped the MG sketch — the merge bound is broken")
    // the geometric key really does produce a heavy hitter: "1" holds
    // about half the stream, far above the n/(capacity+1) threshold
    val n1 = r3.find(_.getAs[String]("k") == "1").map(_.getAs[Long]("n"))
    val total = r3.map(_.getAs[Long]("n")).sum
    assert(n1.exists(_ * 5 > total), s"fixture lost its skew: $n1 of $total")
    for (b <- Seq(1, 5)) {
      val (rb, _) = Streaming.streamHeavyHittersCounted(spark, sf, batches = b)
      assert(rb.exceptAll(r3df).isEmpty && r3df.exceptAll(rb).isEmpty,
        s"heavy-hitters report must be batching-invariant (batches=$b)")
    }
  }

  test("streamQuantile: the rank-band contract holds under ANY batching") {
    // As with heavy hitters: quantile ESTIMATES from a lossy rank
    // sampler shift with batch boundaries; the report (exact rank
    // quantiles + contract verdict) must not. 1, 3, and 5 batches must
    // emit the identical report and every verdict must be true.
    val (r3df, applied) = Streaming.streamQuantileCounted(spark, sf, batches = 3)
    assert(applied >= 2, s"expected a multi-batch fold, got $applied batch(es)")
    val r3 = r3df.collect()
    assert(r3.length == 12, s"4 groups x 3 quantiles expected, got ${r3.length}")
    assert(r3.forall(_.getAs[Boolean]("ok")),
      "a sketch estimate left its rank band — the merge contract is broken")
    for (b <- Seq(1, 5)) {
      val (rb, _) = Streaming.streamQuantileCounted(spark, sf, batches = b)
      assert(rb.exceptAll(r3df).isEmpty && r3df.exceptAll(rb).isEmpty,
        s"quantile monitor report must be batching-invariant (batches=$b)")
    }
  }

  test("streamDimLookup: stateless enrichment + additive fold is batching-invariant") {
    val (est3, applied) = Streaming.streamDimLookupCounted(spark, sf, batches = 3)
    assert(applied >= 2, s"expected a multi-batch fold, got $applied batch(es)")
    val r3 = est3.collect()
    assert(r3.nonEmpty)
    // epoch-0 events on v1-deleted keys must still enrich from the base
    // row; epoch-1 ones must not — both epochs appear in the output
    assert(r3.map(_.getAs[Long]("epoch")).toSet == Set(0L, 1L))
    val (est1, _) = Streaming.streamDimLookupCounted(spark, sf, batches = 1)
    assert(est1.exceptAll(est3).isEmpty && est3.exceptAll(est1).isEmpty,
      "dimension lookup monitor must be batching-invariant")
  }

  test("streamQuality accumulates row-local violations across MULTIPLE batches") {
    // additive constraints: the accumulated totals must equal one batch
    // pass over the whole feed, whatever the admission schedule
    val (totals, applied) = Streaming.streamQualityCounted(spark, sf, batches = 3)
    assert(applied >= 2, s"expected a multi-batch fold, got $applied batch(es)")
    val rows = totals.collect()
      .map(r => r.getAs[String]("constraint_name") ->
        (r.getAs[Long]("violations"), r.getAs[Boolean]("pass"))).toMap
    assert(rows.size == 4)
    val ev = graft.sources.Tables.events(spark, sf)
    val nErrors = ev.filter(col("event_type") === "error").count()
    assert(nErrors > 0 && rows("no_error_events") == ((nErrors, false)),
      s"error-event detection: expected $nErrors, got ${rows("no_error_events")}")
    assert(rows("type_domain") == ((0L, true)))
    val nTs = ev.filter(unix_micros(col("ts")) < 1704067200000000L ||
      unix_micros(col("ts")) >= 1706745600000000L).count()
    assert(rows("ts_window") == ((nTs, nTs == 0L)))
    rows.values.foreach { case (v, p) => assert(p == (v == 0L)) }
  }

  test("streamDrift: planted click scaling drifts, other types are controls") {
    val (l1, applied) = Streaming.streamDriftCounted(spark, sf, batches = 3)
    assert(applied >= 2, s"expected a multi-batch fold, got $applied batch(es)")
    val rows = l1.collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("l1_dist"), r.getAs[Boolean]("drifted"))).toMap
    assert(rows.size == 5)
    assert(rows("click")._2, s"planted 1.5x scaling undetected: $rows")
    rows.filterNot(_._1 == "click").foreach { case (t, (d, flag)) =>
      assert(!flag && d == 0L, s"control type $t drifted: l1=$d")
    }
  }

  test("streamQuantile on an EMPTY topic returns an empty report, not an NPE") {
    import org.apache.spark.sql.types._
    val dir = tempDir("graft_empty_sf")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(dir + "/events.parquet")
    val (out, _) = Streaming.streamQuantileCounted(spark, dir, batches = 3)
    assert(out.columns.toSeq == Seq("grp", "pct", "n", "exact_cents", "ok"))
    assert(out.count() == 0L)
  }

  test("streamClassifier is batching-invariant and equals train-static/score-stream fixpoint") {
    // inference is a stateless feature pass + a broadcast 1-row model,
    // so arrival batching must be invisible; the fixpoint is the batch
    // API trained on the static split, scoring the arriving split
    val docs = graft.sources.Tables.documents(spark, sf)
    val arriving = docs.filter(col("doc_id") % 3 =!= 0)
    val dir = tempDir("graft_clf")
    arriving.repartition(3).write.mode("overwrite").parquet(dir)
    val (multi, applied) = Streaming.streamClassifierCounted(
      spark, sf, dir, "*.parquet", maxFilesPerTrigger = 1)
    assert(applied >= 2, s"expected a multi-batch run, got $applied batch(es)")
    val (single, _) = Streaming.streamClassifierCounted(
      spark, sf, sf, "documents.parquet", 0)
    assert(multi.count() > 0)
    assert(multi.exceptAll(single).isEmpty && single.exceptAll(multi).isEmpty,
      "scored stream must be batching-invariant")
    val w = graft.api.Graft.qualityClassifierFit(
      docs.filter(col("doc_id") % 3 === 0))
    val expected = graft.api.Graft.qualityScore(arriving, w)
    assert(multi.exceptAll(expected).isEmpty && expected.exceptAll(multi).isEmpty,
      "stream scoring must equal the batch-trained fixpoint")
    // the filter is live on the arriving split: both verdicts present
    val flagged = multi.filter(col("flagged")).count()
    assert(flagged > 0 && flagged < multi.count(),
      s"degenerate stream filter: $flagged of ${multi.count()} flagged")
  }

  test("streamSnapshot: versioned ingest — one version per batch, monotone history, fixpoint tail") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val dir = tempDir("graft_ssnap")
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    // single-batch run FIRST, so the latest table dir afterwards is the
    // multi-batch run's history
    val (single, _, _) = graft.streaming.Streaming
      .streamSnapshotCounted(spark, sf, sf, "documents.parquet", 0)
    val sRows = single.collect().map(_.toString).sorted
    val (multi, applied, table) = graft.streaming.Streaming
      .streamSnapshotCounted(spark, sf, dir, "*.parquet", 1)
    assert(applied >= 2, s"expected a multi-batch run, got $applied batch(es)")
    val m = multi.collect().map(_.toString).sorted
    // the last version's read-back equals the batch fixpoint AND the
    // single-batch run — batching only changes the history, never the tail
    assert(m.nonEmpty && m.sameElements(sRows))
    val batch = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .collect().map(_.toString).sorted
    assert(m.sameElements(batch), "final version must equal the batch fixpoint")
    // history semantics: the run created one snapshot version per batch,
    // and corpus totals grow monotonically along the version chain
    // (asserted against the dir THIS run returned, never a /tmp glob)
    val nv = graft.sources.Snapshots.currentVersion(spark, table)
    assert(nv == applied.toLong, s"expected $applied versions, found $nv")
    val totals = (1L to nv).map { v =>
      graft.sources.Snapshots.read(spark, table, "lang", v)
        .agg(sum(col("n_docs"))).collect()(0).getLong(0)
    }
    assert(totals.zip(totals.tail).forall { case (a, b) => a <= b },
      s"per-version doc totals must be monotone: $totals")
    assert(totals.last == docs.count(), s"final version covers the corpus: $totals")
  }

  test("streamChangefeed: the feed's fold is batching-invariant and equals the final version's batch state") {
    // per-version batches (maxVersionsPerBatch=1) vs one spanning batch:
    // the fold must be IDENTICAL — batch (a,b] is by construction the
    // union of its per-version steps
    val (multi, applied, table) = Streaming.streamChangefeedCounted(spark, sf, 1)
    assert(applied >= 3, s"expected one batch per version, got $applied")
    val (single, applied1, _) = Streaming.streamChangefeedCounted(spark, sf, 100)
    assert(applied1 < applied, s"spanning run must batch fewer: $applied1")
    val m = multi.collect().map(_.toString).sorted
    assert(m.nonEmpty)
    assert(m.sameElements(single.collect().map(_.toString).sorted),
      "change-feed fold must be batching-invariant")
    // the fold equals the last version's batch read — the loop
    // ingest -> version -> incremental-consume closes exactly
    val fix = graft.sources.Snapshots.read(spark, table, "part")
      .select("user_id", "event_id", "v").collect().map(_.toString).sorted
    assert(m.sameElements(fix), "fold must equal the batch fixpoint")
  }

  test("row-level changefeed: batching-invariant, suppresses ride-along rows, equals the batch fixpoint") {
    val (multi, applied, table) = Streaming.streamCdfRowsCounted(spark, sf, 1)
    assert(applied >= 3, s"expected one batch per version, got $applied")
    val (single, applied1, _) = Streaming.streamCdfRowsCounted(spark, sf, 100)
    assert(applied1 < applied, s"spanning run must batch fewer: $applied1")
    val m = multi.collect().map(_.toString).sorted
    assert(m.nonEmpty)
    assert(m.sameElements(single.collect().map(_.toString).sorted),
      "row-level fold must be batching-invariant")
    val fix = graft.sources.Snapshots.read(spark, table, "part")
      .select("user_id", "event_id", "v").collect().map(_.toString).sorted
    assert(m.sameElements(fix), "row fold must equal the batch fixpoint")
  }

  test("row-level changefeed source: exact images per version, OPTIMIZE silent, checkpointed restart exactly once") {
    import graft.sources.Snapshots
    val dir = tempDir("graft_cdfrow_tbl")
    val ckpt = tempDir("graft_cdfrow_ckpt")
    val v1 = Snapshots.commit(spark, dir,
      Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 7L, 70L))
        .toDF("part", "k", "v").repartition(4),
      "part", statsColumns = Seq("k"))
    // v2 rewrites partition a: k=1 updated, k=2 untouched (RIDES ALONG —
    // must be invisible at row grain), k=3 inserted
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 1L, 11L), ("a", 2L, 20L), ("a", 3L, 30L))
        .toDF("part", "k", "v"), "part")
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String, Long, Long)]())
    def run(): Unit = {
      val q = spark.readStream.format("graft_snapshot_cdf")
        .option("path", dir).option("partCol", "part")
        .option("rowLevel", "true").option("keyCol", "k")
        .option("maxVersionsPerBatch", "1")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("_commit_version", "change", "k", "v")
            .collect().foreach(r => got.add(
              (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))))
        }
        .start()
      Streaming.drain(q)
    }
    run()
    import scala.jdk.CollectionConverters._
    val phase1 = got.asScala.toList
    assert(phase1.sorted == List(
      (v1, "insert", 1L, 10L), (v1, "insert", 2L, 20L), (v1, "insert", 7L, 70L),
      (v2, "update_preimage", 1L, 10L), (v2, "update_postimage", 1L, 11L),
      (v2, "insert", 3L, 30L)).sorted,
      s"v1 = initial inserts, v2 = exact row images (ride-along k=2 silent): $phase1")
    // between incarnations: a delete via DML (fragmented enough to give
    // the follow-up OPTIMIZE work) and a compaction that must stay silent
    val v3 = Snapshots.delete(spark, dir, "part",
      org.apache.spark.sql.functions.col("k") === 7L)
    val v4 = Snapshots.optimize(spark, dir, "part")
    assert(v3 > v2 && v4 > v3, "fixture must delete then compact")
    run() // SAME checkpoint: serves exactly (v2, v4]
    val newRows = got.asScala.toList.drop(phase1.size)
    assert(newRows.sorted == List((v3, "delete", 7L, 70L)).sorted,
      s"restart must serve only the delete image, compaction silent: $newRows")
  }

  test("changefeed source: per-version offsets, OPTIMIZE emits nothing, checkpointed restart serves each version exactly once") {
    import graft.sources.Snapshots
    val dir = tempDir("graft_cdf_tbl")
    val ckpt = tempDir("graft_cdf_ckpt")
    val v1 = Snapshots.commit(spark, dir,
      Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("part", "x").repartition(4),
      "part")
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 3L)).toDF("part", "x"), "part")
    // raw feed rows accumulated ACROSS both query incarnations
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String, String, Long)]())
    def run(): Unit = {
      val q = spark.readStream.format("graft_snapshot_cdf")
        .option("path", dir).option("partCol", "part")
        .option("maxVersionsPerBatch", "1")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("_commit_version", "change", "part", "x")
            .collect().foreach(r => got.add(
              (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))))
        }
        .start()
      Streaming.drain(q)
    }
    run()
    import scala.jdk.CollectionConverters._
    val phase1 = got.asScala.toList
    // v1 arrives as the FULL initial snapshot; v2's step is exactly the
    // rewritten partition's two states — per-version offsets mean each
    // row is stamped with the version that produced it
    assert(phase1.sorted == List(
      (v1, "added", "a", 1L), (v1, "added", "a", 2L), (v1, "added", "b", 10L),
      (v2, "added", "a", 3L),
      (v2, "removed", "a", 1L), (v2, "removed", "a", 2L)).sorted, phase1)
    // between incarnations: one real change (deliberately FRAGMENTED so
    // the compaction below has work) + one OPTIMIZE (which must emit
    // NOTHING — its rewritten files carry dataVersion)
    val v3 = Snapshots.commitReplace(spark, dir,
      Seq(("b", 20L), ("b", 21L), ("b", 22L), ("b", 23L)).toDF("part", "x")
        .repartition(4), "part")
    val v4 = Snapshots.optimize(spark, dir, "part")
    assert(v4 > v3, "fixture must actually compact (v3 wrote 4 files)")
    run() // SAME checkpoint: resumes at v2, serves (v2, v4]
    val all = got.asScala.toList
    val newRows = all.drop(phase1.size)
    assert(newRows.sorted == List(
      (v3, "added", "b", 20L), (v3, "added", "b", 21L),
      (v3, "added", "b", 22L), (v3, "added", "b", 23L),
      (v3, "removed", "b", 10L)).sorted,
      s"restart must serve exactly (v2, v4] with the compaction silent: $newRows")
    // exactly-once overall: no version served twice across the restart
    assert(all.size == phase1.size + 5, s"duplicate feed rows: $all")
  }

  test("changefeed restart under a WIDENED schema: old versions null-fill, totals exact") {
    // the widen-on-restart assist: the feed's schema is fixed per query
    // INCARNATION, but a restart re-resolves it from the table's current
    // manifest — so after an add-column evolution, the same checkpoint
    // continues under the widened schema, with the pre-evolution
    // versions' rows served null-filled (the batch read's own rule).
    // No manual re-seed, no checkpoint deletion, totals exact.
    import graft.sources.Snapshots
    val dir = tempDir("graft_cdfw_tbl")
    val ckpt = tempDir("graft_cdfw_ckpt")
    Snapshots.commit(spark, dir,
      Seq(("a", 1L), ("b", 10L)).toDF("part", "x"), "part")
    val got1 = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String, String, Long)]())
    locally {
      val q = spark.readStream.format("graft_snapshot_cdf")
        .option("path", dir).option("partCol", "part").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          assert(!b.columns.contains("y"), "phase 1 predates the evolution")
          b.select("_commit_version", "change", "part", "x").collect()
            .foreach(r => got1.add(
              (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))))
        }
        .start()
      graft.streaming.Streaming.drain(q)
    }
    assert(got1.size() == 2, s"initial snapshot: $got1")
    // ADD-COLUMN evolution between incarnations: a full commit under the
    // wider schema (the format's add-column shape)
    val v2 = Snapshots.commit(spark, dir,
      Seq(("a", 2L, "n"), ("b", 10L, "m")).toDF("part", "x", "y"), "part")
    val got2 = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String, String, Long, Option[String])]())
    locally {
      val q = spark.readStream.format("graft_snapshot_cdf")
        .option("path", dir).option("partCol", "part").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("_commit_version", "change", "part", "x", "y").collect()
            .foreach(r => got2.add((r.getLong(0), r.getString(1),
              r.getString(2), r.getLong(3), Option(r.getString(4)))))
        }
        .start()
      graft.streaming.Streaming.drain(q)
    }
    import scala.jdk.CollectionConverters._
    // the restarted incarnation serves (v1, v2] WIDENED: the removed
    // (pre-evolution) images carry y = NULL, the added ones real values
    assert(got2.asScala.toList.sorted == List(
      (v2, "added", "a", 2L, Some("n")),
      (v2, "added", "b", 10L, Some("m")),
      (v2, "removed", "a", 1L, None),
      (v2, "removed", "b", 10L, None)).sorted, got2.asScala.toList)
  }

  test("streamDriftEmbedding is batching-invariant and equals the batch fixpoint") {
    // the decimal per-(split, dim) sums are exact and associative, so a
    // 3-file/1-per-trigger arrival must produce the IDENTICAL report as
    // a single batch and as the batch query — including the doubles
    // (micro-unit rounding happens once at read-out, never per batch)
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val dir = tempDir("graft_edrift")
    emb.repartition(3).write.mode("overwrite").parquet(dir)
    val (multi, applied) = graft.streaming.Streaming
      .streamDriftEmbeddingCounted(spark, sf, dir, "*.parquet", 1)
    assert(applied >= 2, s"expected a multi-batch run, got $applied batch(es)")
    val (single, _) = graft.streaming.Streaming
      .streamDriftEmbeddingCounted(spark, sf, sf, "embeddings.parquet", 0)
    val m = multi.collect().map(_.toString).sorted
    assert(m.nonEmpty)
    assert(m.sameElements(single.collect().map(_.toString).sorted),
      "embedding drift report must be batching-invariant")
    val batch = q("q_quality_drift_embedding").collect().map(_.toString).sorted
    assert(m.sameElements(batch), "stream report must equal the batch fixpoint")
    // the monitor is live: the planted split flags, the control doesn't
    val verdicts = multi.select("split", "drifted")
      .as[(String, Boolean)].collect().toMap
    assert(verdicts("shifted") && !verdicts("control"), verdicts.toString)
  }

  test("streamContainment is batching-invariant and equals the batch fixpoint") {
    // the ingest-time quote/excerpt filter is stateless per batch
    // (stream-static joins only), so output must not depend on arrival
    // batching: split the arriving docs over 3 files, force one file per
    // trigger, and compare against both the 1-batch run and the inline
    // batch restatement of the drop rule
    val docs = graft.sources.Tables.documents(spark, sf)
    val arriving = docs.filter(col("doc_id") % 3 =!= 0)
    val dir = tempDir("graft_contain")
    arriving.repartition(3).write.mode("overwrite").parquet(dir)
    val (multi, applied) = Streaming.streamContainmentCounted(
      spark, sf, dir, "*.parquet", maxFilesPerTrigger = 1)
    assert(applied >= 2, s"expected a multi-batch run, got $applied batch(es)")
    val (single, _) = Streaming.streamContainmentCounted(
      spark, sf, sf, "documents.parquet", 0)
    assert(multi.count() > 0)
    assert(multi.exceptAll(single).isEmpty && single.exceptAll(multi).isEmpty,
      "containment filter must be batching-invariant")
    // batch fixpoint: exact intersections over rare-index candidates
    val corp = graft.operators.Dedup.shingleRows(docs.filter(col("doc_id") % 3 === 0))
    val arr = graft.operators.Dedup.shingleRows(arriving)
    val rare = corp.groupBy("lang", "shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 64).select("lang", "shingle")
    val idx = corp.join(rare, Seq("lang", "shingle"), "left_semi")
      .select(col("doc_id").as("j"), col("lang"), col("shingle"))
    val cand = arr.join(idx, Seq("lang", "shingle"))
      .select(col("doc_id"), col("j")).distinct()
    val inter = cand
      .join(arr.select(col("doc_id"), col("lang"), col("shingle")), Seq("doc_id"))
      .join(corp.select(col("doc_id").as("j"), col("lang"), col("shingle")),
        Seq("j", "lang", "shingle"))
      .groupBy("doc_id", "j").agg(count(lit(1)).as("n"))
    val cnt = arr.groupBy("doc_id").agg(count(lit(1)).as("c"))
    val dropped = inter.join(cnt, Seq("doc_id"))
      .filter(col("n").cast("double") / col("c") >= 0.6)
      .select("doc_id").distinct()
    val expected = arriving.select("doc_id").join(dropped, Seq("doc_id"), "left_anti")
    assert(dropped.count() > 0, "fixture must contain at least one quote/excerpt doc")
    assert(multi.exceptAll(expected).isEmpty && expected.exceptAll(multi).isEmpty,
      "ingest-time containment filter must equal the batch fixpoint")
  }

  test("streamNearDup equals the batch LSH filter against the corpus index") {
    import graft.api.Graft
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpusIdx = Graft.minhashBandKeys(
        Graft.shingleArrays(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text"))
      .select("band", "bandkey").distinct()
    val streamDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val hit = Graft.minhashBandKeys(Graft.shingleArrays(streamDocs, "doc_id", "text"))
      .join(corpusIdx, Seq("band", "bandkey"), "left_semi")
      .select("doc_id").distinct()
    val expected = streamDocs.select("doc_id").join(hit, Seq("doc_id"), "left_anti")
    val got = Streaming.streamNearDup(spark, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "ingest-time filter must equal the batch fixpoint")
  }
}
