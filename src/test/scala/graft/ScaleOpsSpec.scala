package graft

import graft.operators.SkewJoin
import graft.sources.Tables
import graft.streaming.StatefulSessionize
import org.apache.spark.sql.functions._

/** Scale-path operators: salted join equivalence, typed top-k vs window
  * top-k, stateful streaming sessionization across real micro-batches. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join == plain join (inner, with duplicates on both sides)") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select("l_orderkey", "l_partkey", "o_totalprice")
    val salted = SkewJoin.saltedJoin(li, o, "l_orderkey", "o_orderkey", salts = 7)
      .select("l_orderkey", "l_partkey", "o_totalprice")
    assert(plain.count() == salted.count())
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("salted join with uniqueKeys (retry-stable deterministic salt) == plain join") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select("l_orderkey", "l_partkey", "o_totalprice")
    val salted = SkewJoin.saltedJoin(li, o, "l_orderkey", "o_orderkey",
        salts = 7, uniqueKeys = Seq(col("l_orderkey"), col("l_linenumber")))
      .select("l_orderkey", "l_partkey", "o_totalprice")
    assert(plain.count() == salted.count())
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("salted join spreads a hot key of byte-identical rows across salts") {
    // r11 finding: salting by xxhash64 of the row alone collapses
    // duplicate rows onto ONE salt — the exact hot-key shape salting
    // exists for. The fix folds the row's physical position into the
    // salt; this pins it: 4000 identical rows across 4 partitions must
    // land on >= 2 salts (position-hash makes all 8 overwhelmingly
    // likely), and the join result must still equal the plain join.
    val hot = spark.range(4000).select(lit(42L).as("k"), lit("same").as("payload"))
      .repartition(4)
    val dim = Seq((42L, "dim")).toDF("dk", "dv")
    val salted = SkewJoin.saltedJoin(hot, dim, "k", "dk", salts = 8)
    assert(salted.count() == 4000)
    // observe the salt distribution the same way saltedJoin derives it
    val saltsSeen = hot.select(
        pmod(xxhash64(col("k"), col("payload")) + monotonically_increasing_id(),
          lit(8)).cast("int").as("s"))
      .select("s").distinct().as[Int].collect().toSet
    assert(saltsSeen.size >= 2,
      s"identical-row hot key still collapses onto salts $saltsSeen")
  }

  test("typed top-k aggregator == window top-k") {
    val viaAgg = q("q_topk_aggregator").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4))).toSet
    val viaWindow = q("q_window_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4))).toSet
    assert(viaAgg == viaWindow)
  }

  test("stateful sessionize: state carries across micro-batches, matches batch replay") {
    val gapUs = 4L * 3600 * 1000000 // 4h
    // events as (user_id, event_id, ts_us), split into 2 time-ordered files
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, Long)].collect().sortBy(e => (e._3, e._2))
    val mid = ev(ev.length / 2)._3
    val dir = tempDir("graft_sess")
    ev.filter(_._3 <= mid).toSeq.toDF("user_id", "event_id", "ts_us")
      .coalesce(1).write.parquet(s"$dir/batch=0")
    ev.filter(_._3 > mid).toSeq.toDF("user_id", "event_id", "ts_us")
      .coalesce(1).write.parquet(s"$dir/batch=1")
    // flatten into one dir of two files (the stream reads files in order)
    val flat = tempDir("graft_sess_flat")
    Seq(0, 1).foreach { b =>
      val src = new java.io.File(s"$dir/batch=$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      val dst = java.nio.file.Paths.get(flat, f"part-$b%05d.parquet")
      java.nio.file.Files.copy(src, dst)
      // the file source replays in mod-time order; force batch 0 < batch 1
      dst.toFile.setLastModified(1000000000000L + b * 60000L)
    }

    val got = StatefulSessionize.closedSessions(spark, flat, gapUs)
      .as[(Long, Long, Long, Long)].collect().toSet

    // expected: sessionize the full sorted list per user, drop each user's
    // trailing (still-open) session
    val want = ev.groupBy(_._1).flatMap { case (uid, evs) =>
      val ts = evs.sortBy(e => (e._3, e._2)).map(_._3)
      val sessions = ts.foldLeft(Vector.empty[Vector[Long]]) { (acc, t) =>
        if (acc.isEmpty || t - acc.last.last > gapUs) acc :+ Vector(t)
        else acc.init :+ (acc.last :+ t)
      }
      sessions.dropRight(1).zipWithIndex.map { case (sess, i) =>
        (uid, (i + 1).toLong, sess.size.toLong, sess.head)
      }
    }.toSet
    assert(got == want,
      s"\nonly-got=${(got -- want).toSeq.sortBy(t => (t._1, t._2)).take(6)}" +
        s"\nonly-want=${(want -- got).toSeq.sortBy(t => (t._1, t._2)).take(6)}")
    assert(got.nonEmpty)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // one key holds 75% of the left side — the AQE answer to skew that
    // SkewJoin.saltedJoin solves manually. Thresholds are lowered so the
    // tiny test dataset crosses them; on a real cluster the defaults
    // (256 MB / factor 5) play the same role.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(200000)
        .select(when(col("id") < 150000, 0L).otherwise(col("id") % 100).as("k"),
          col("id").as("v"))
      val right = spark.range(100).select(col("id").as("k2"), col("id").as("w"))
      val joined = left.join(right, col("k") === col("k2"))
      // execute THIS dataframe: count() would plan a separate query and
      // leave joined's adaptive plan unexecuted (isFinalPlan=false)
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE should have split the hot partition:\n" + plan)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
