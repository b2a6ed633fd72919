package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Deletion vectors: row-level DELETE/UPDATE without file rewrite —
  * sidecar masks, mask union, full-file drops, the rewrite-fraction
  * policy, OPTIMIZE retiring masks, vacuum GC of orphan sidecars, and
  * time travel across all of it. Everything here runs with
  * `spark.graft.snapshot.dvEnabled = true`; the suite's last test pins
  * that the DEFAULT (unset) path still rewrites byte-identically. */
class SnapshotDvSpec extends SparkSpec {
  import spark.implicits._

  private def tempTable(): String =
    tempDir("graft_dv_spec")

  private def withDv[A](body: => A): A = {
    spark.conf.set("spark.graft.snapshot.dvEnabled", "true")
    try body finally spark.conf.unset("spark.graft.snapshot.dvEnabled")
  }

  private def manifestText(dir: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$dir/_manifests/v$v%08d.txt")), "UTF-8")

  private def filesOf(dir: String, v: Long): Map[String, Seq[String]] =
    manifestText(dir, v).split("\n").filterNot(_.startsWith("#")).toSeq
      .map(_.split("\t")).groupBy(_(0))
      .view.mapValues(_.map(_(1)).toSeq.sorted).toMap

  private def dvRefs(dir: String, v: Long): Seq[String] =
    manifestText(dir, v).split("\n").filterNot(_.startsWith("#")).toSeq
      .map(_.split("\t", -1)).filter(_.length == 6).map(_(5))

  /** one file per partition, 100 rows each, k clustered per partition */
  private def seed(dir: String): Unit = {
    val df = (0L until 200L).map(k => (s"p${k / 100}", k, k * 10L))
      .toDF("part", "k", "v")
      .repartitionByRange(2, col("part")).sortWithinPartitions("part", "k")
    Snapshots.commit(spark, dir, df, "part", statsColumns = Seq("k"))
  }

  test("needle DELETE masks instead of rewriting; time travel intact") {
    withDv {
      val dir = tempTable()
      seed(dir)
      val v2 = Snapshots.delete(spark, dir, "part", col("k") === 7L)
      assert(v2 == 2L)
      // the touched file CARRIES (same path) with a dv ref — no rewrite
      assert(filesOf(dir, 2L) == filesOf(dir, 1L),
        "a 1-row delete must not rewrite or drop any file")
      val refs = dvRefs(dir, 2L)
      assert(refs.size == 1 && refs.head.endsWith("#1"),
        s"exactly one masked entry with cardinality 1, got $refs")
      // read-back: the row is gone, everything else intact
      val ks = Snapshots.read(spark, dir, "part", 2L)
        .select("k").as[Long].collect().toSet
      assert(!ks.contains(7L) && ks.size == 199)
      // pinned time travel still sees the row
      assert(Snapshots.read(spark, dir, "part", 1L)
        .filter(col("k") === 7L).count() == 1L)
      // filters/aggregates over the masked table stay exact
      assert(Snapshots.read(spark, dir, "part", 2L)
        .agg(sum("v")).as[Long].head() ==
        (0L until 200L).filter(_ != 7L).map(_ * 10).sum)
    }
  }

  test("a second DELETE unions the mask; full-file deletes drop the entry with zero IO") {
    withDv {
      val dir = tempTable()
      seed(dir)
      Snapshots.delete(spark, dir, "part", col("k") === 7L)
      val v3 = Snapshots.delete(spark, dir, "part", col("k").isin(8L, 9L))
      assert(filesOf(dir, v3) == filesOf(dir, 1L), "still no rewrite")
      assert(dvRefs(dir, v3).exists(_.endsWith("#3")),
        s"mask must be the UNION {7,8,9}, got ${dvRefs(dir, v3)}")
      assert(Snapshots.read(spark, dir, "part", v3)
        .filter(col("k") < 10L).count() == 7L)
      // delete every live row of p1's file: the entry drops, no rewrite
      val v4 = Snapshots.delete(spark, dir, "part", col("k") >= 100L)
      assert(!filesOf(dir, v4).contains("p1"),
        "a fully-deleted file must leave the manifest")
      assert(filesOf(dir, v4)("p0") == filesOf(dir, 1L)("p0"))
      assert(Snapshots.read(spark, dir, "part", v4).count() == 97L)
    }
  }

  test("the rewrite-fraction policy: heavy deletes still rewrite, and bounds false positives carry") {
    withDv {
      val dir = tempTable()
      seed(dir)
      // 50% of p0's file > dvMaxFraction (0.2): must REWRITE, no dv ref
      val v2 = Snapshots.delete(spark, dir, "part",
        col("k") < 50L)
      assert(dvRefs(dir, v2).isEmpty, "heavy delete must not mask")
      assert(filesOf(dir, v2)("p0") != filesOf(dir, 1L)("p0"),
        "heavy delete must rewrite the file")
      assert(filesOf(dir, v2)("p1") == filesOf(dir, 1L)("p1"))
      assert(Snapshots.read(spark, dir, "part", v2).count() == 150L)
      // bounds-overlapping but zero-hit: carries untouched (no rewrite,
      // no dv, no dataVersion stamp — provable via the manifest line)
      val before = manifestText(dir, v2)
      val v3 = Snapshots.delete(spark, dir, "part",
        col("k") >= 60L && col("k") < 70L && col("v") === -1L)
      assert(v3 == v2, "zero matching rows must not commit")
      assert(manifestText(dir, v2) == before)
    }
  }

  test("UPDATE masks the old image and appends the new one") {
    withDv {
      val dir = tempTable()
      seed(dir)
      val v2 = Snapshots.update(spark, dir, "part", col("k") === 42L,
        Map("v" -> lit(-1L)))
      // old file carried with a 1-row mask, plus one appended image file
      val refs = dvRefs(dir, v2)
      assert(refs.size == 1 && refs.head.endsWith("#1"), refs.toString)
      assert(filesOf(dir, v2)("p0").size == 2,
        "the new image appends as a fresh file")
      assert((filesOf(dir, 1L)("p0").toSet --
        filesOf(dir, v2)("p0").toSet).isEmpty, "old file must carry")
      val got = Snapshots.read(spark, dir, "part", v2)
        .filter(col("k") === 42L).select("v").as[Long].collect().toSeq
      assert(got == Seq(-1L), s"updated image must serve, got $got")
      assert(Snapshots.read(spark, dir, "part", v2).count() == 200L)
      assert(Snapshots.read(spark, dir, "part", 1L)
        .filter(col("k") === 42L).select("v").as[Long].head() == 420L)
    }
  }

  test("the change feed sees masked rows as removed; UNIQUE sees through the mask") {
    withDv {
      val dir = tempTable()
      seed(dir)
      Snapshots.delete(spark, dir, "part", col("k") === 7L)
      // partition-grain diff: p0 changed (old rows removed, new state
      // added), p1 untouched and absent
      val d = Snapshots.diff(spark, dir, "part", 1L, 2L)
      assert(d.filter(col("change") === "removed").count() == 100L)
      assert(d.filter(col("change") === "added").count() == 99L)
      assert(d.filter(col("part") === "p1").count() == 0L)
      // UNIQUE must judge LIVE rows only. Mask k=43's row, then update
      // k=42 to carry 43's old v: the file BYTES now hold v=430 twice,
      // but one is masked — the constraint must be addable...
      Snapshots.delete(spark, dir, "part", col("k") === 43L)
      Snapshots.update(spark, dir, "part", col("k") === 42L,
        Map("v" -> lit(430L)))
      Snapshots.addUniqueConstraint(spark, dir, "part", "uq_v", Seq("v"))
      // ...and a LIVE duplicate introduced later must still refuse
      val e = intercept[IllegalArgumentException] {
        Snapshots.commitReplace(spark, dir,
          Snapshots.read(spark, dir, "part")
            .unionByName(Seq(("p0", 999L, 100L)).toDF("part", "k", "v")),
          "part")
      }
      assert(e.getMessage.contains("uq_v"), e.getMessage)
    }
  }

  test("the STREAMING change feed serves a DV-masked table exactly") {
    // the streaming scan path (manifestStreamScan) must apply masks the
    // same way the batch path does — the feed's 'added' side of a
    // DV-masked version is a streaming-tagged scan with the anti join
    withDv {
      val dir = tempTable()
      seed(dir)
      Snapshots.delete(spark, dir, "part", col("k") === 7L)
      assert(dvRefs(dir, 2L).nonEmpty, "fixture must actually mask")
      val (rows, _) = graft.streaming.Streaming.foldBatches(
          spark.readStream.format("graft_snapshot_cdf")
            .option("path", dir).option("partCol", "part").load(),
          List.empty[(Long, String, Long)]) { (got, b, _) =>
        got ++ b.select("_commit_version", "change", "k").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      }
      // v1 snapshot: all 200; v2 step: p0's 100 removed + 99 added (7 masked)
      assert(rows.count(r => r._1 == 1L && r._2 == "added") == 200)
      assert(rows.count(r => r._1 == 2L && r._2 == "removed") == 100)
      val added2 = rows.filter(r => r._1 == 2L && r._2 == "added").map(_._3)
      assert(added2.size == 99 && !added2.contains(7L),
        s"the masked row must not appear in the feed's added side")
    }
  }

  test("restoring past a mask-only delete is VISIBLE to the change feed") {
    // a mask-only delete keeps every file path, so a rollback of it
    // changes rows WITHOUT changing paths — the restore stamp must key
    // on (path, dv), or CDF consumers would never hear the masked rows
    // resurrected (review-caught)
    withDv {
      val dir = tempTable()
      seed(dir)
      Snapshots.delete(spark, dir, "part", col("k") === 7L) // v2: mask only
      val v3 = Snapshots.restore(spark, dir, "part", 1L)
      val d = Snapshots.diff(spark, dir, "part", 2L, v3)
      assert(d.filter(col("change") === "added" && col("k") === 7L)
        .count() == 1L, "the resurrected row must appear in the feed")
      assert(d.filter(col("change") === "removed").count() == 99L &&
        d.filter(col("change") === "added").count() == 100L,
        "the rolled-back partition's two states must both emit")
      assert(d.filter(col("part") === "p1").count() == 0L,
        "the untouched partition stays silent")
    }
  }

  test("OPTIMIZE retires masks and vacuum collects orphan sidecars") {
    withDv {
      val dir = tempTable()
      seed(dir)
      Snapshots.delete(spark, dir, "part", col("k") === 7L)
      assert(dvRefs(dir, 2L).nonEmpty)
      val v3 = Snapshots.optimize(spark, dir, "part")
      assert(v3 == 3L, "a DV-bearing partition must be a compaction candidate")
      assert(dvRefs(dir, v3).isEmpty, "rewritten entries carry no mask")
      assert(Snapshots.read(spark, dir, "part", v3).count() == 199L)
      // retention-drop the masked versions, then GC: the sidecar goes
      Snapshots.vacuum(spark, dir, keepLast = 1)
      val dvRoot = java.nio.file.Paths.get(dir, "_manifests", "dv")
      val left = Option(dvRoot.toFile.list()).map(_.toSeq).getOrElse(Nil)
      assert(left.isEmpty, s"orphan sidecars must be collected, got $left")
      assert(Snapshots.read(spark, dir, "part").count() == 199L)
    }
  }

  test("row-grain MERGE: assignment lists, clause priority, inserts, masked old images") {
    withDv {
      val dir = tempTable()
      seed(dir) // k 0..199, v = k*10, part = p{k/100}
      Seq(("p0", 7L, 1L, false), ("p0", 8L, 2L, true),
        ("p1", 150L, 5L, false), ("p9", 1000L, 9L, false))
        .toDF("part", "k", "delta", "tomb")
        .createOrReplaceTempView("mr_src")
      val v = Snapshots.sql(spark,
        s"""MERGE INTO graft_snapshot.`$dir` AS t
            USING (SELECT part, k, delta, tomb, k * 10 AS v FROM mr_src) AS s
            ON t.k = s.k
            WHEN MATCHED AND s.tomb THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = t.v + s.delta
            WHEN NOT MATCHED THEN INSERT *""").as[Long].collect().head
      val rows = Snapshots.read(spark, dir, "part", v)
        .select("k", "v").as[(Long, Long)].collect().toMap
      assert(rows(7L) == 71L, "SET v = t.v + s.delta must see both sides")
      assert(!rows.contains(8L), "the DELETE clause fires first (clause order)")
      assert(rows(150L) == 1505L)
      assert(rows(1000L) == 10000L, "unmatched source row must insert")
      assert(rows.size == 200 - 1 + 1)
      // the matched files were MASKED, never rewritten: v1's files all
      // survive in v's manifest, images/inserts are fresh appends
      val (before, after) = (filesOf(dir, 1L), filesOf(dir, v))
      assert(before.forall { case (p, fs) => fs.forall(after(p).contains) },
        "row-grain merge must not rewrite matched files")
      assert(dvRefs(dir, v).nonEmpty, "matched rows live behind masks")
      // time travel: the pre-merge images still serve at v1
      assert(Snapshots.read(spark, dir, "part", 1L)
        .filter(col("k") === 7L).select("v").as[Long].head() == 70L)
    }
  }

  test("row-grain MERGE guards: no-op, duplicate keys, DV opt-in required") {
    withDv {
      val dir = tempTable()
      seed(dir)
      // no clause claims anything, nothing to insert: no commit
      val before = Snapshots.currentVersion(spark, dir)
      Seq(("p0", 7L)).toDF("part", "k").createOrReplaceTempView("mr_miss")
      val v = Snapshots.mergeRows(spark, dir, "part", "k",
        spark.table("mr_miss"),
        Seq(Snapshots.MergeUpdate(Some(lit(false)), Map("v" -> lit(0L)))),
        insertUnmatched = false)
      assert(v == before, "an all-unclaimed merge must not commit")
      // duplicate source keys: refused (ambiguous row pairing)
      val dup = Seq(("p0", 7L, 1L), ("p0", 7L, 2L)).toDF("part", "k", "x")
      val e = intercept[IllegalArgumentException] {
        Snapshots.mergeRows(spark, dir, "part", "k", dup,
          Seq(Snapshots.MergeDelete(None)), insertUnmatched = false)
      }
      assert(e.getMessage.contains("unique"), e.getMessage)
    }
    // a bare name BOTH sides carry is refused (Spark's own MERGE throws
    // AMBIGUOUS_REFERENCE; silently binding one side would flip
    // semantics between the canonical and row-grain kernels)
    withDv {
      val dirA = tempTable()
      seed(dirA)
      Seq(("p0", 7L, 1L)).toDF("part", "k", "v")
        .createOrReplaceTempView("mr_amb")
      val ea = intercept[IllegalArgumentException] {
        Snapshots.sql(spark,
          s"""MERGE INTO graft_snapshot.`$dirA` AS t
              USING mr_amb AS s ON t.k = s.k
              WHEN MATCHED THEN UPDATE SET v = v + 1""")
      }
      assert(ea.getMessage.contains("BOTH sides"), ea.getMessage)
    }
    // without the opt-in the kernel refuses with the pointer
    val dir2 = tempTable()
    seed(dir2)
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.mergeRows(spark, dir2, "part", "k",
        Seq(("p0", 1L)).toDF("part", "k"),
        Seq(Snapshots.MergeDelete(None)), insertUnmatched = false)
    }
    assert(e2.getMessage.contains("dvEnabled"), e2.getMessage)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: expire/retag unmatched target rows via masks") {
    withDv {
      val dir = tempTable()
      seed(dir)
      Seq(("p0", 7L, 777L), ("p9", 300L, 3000L))
        .toDF("part", "k", "v").createOrReplaceTempView("mrb_src")
      val v = Snapshots.sql(spark,
        s"""MERGE INTO graft_snapshot.`$dir` AS t
            USING mrb_src AS s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED THEN INSERT *
            WHEN NOT MATCHED BY SOURCE AND t.k >= 198 THEN DELETE
            WHEN NOT MATCHED BY SOURCE AND t.k >= 195 THEN UPDATE SET v = -1""")
        .collect()(0).getLong(0)
      val got = Snapshots.read(spark, dir, "part", v)
        .select("k", "v").as[(Long, Long)].collect().toMap
      // matched row updated from the source
      assert(got(7L) == 777L)
      // unmatched-in-target row inserted
      assert(got(300L) == 3000L)
      // by-source chain, first-match-wins: 198-199 expired, 195-197
      // retagged, everything below untouched
      assert(!got.contains(198L) && !got.contains(199L))
      assert(Seq(195L, 196L, 197L).forall(got(_) == -1L))
      assert(got(100L) == 1000L && got.size == 200 - 2 + 1)
      // all of it through MASKS — no original file was rewritten
      val (before, after) = (filesOf(dir, 1L), filesOf(dir, v))
      assert(before.forall { case (p, fs) =>
        fs.forall(after(p).contains) },
        "by-source merge must mask, never rewrite")
      // time travel unaffected
      assert(Snapshots.read(spark, dir, "part", 1L).count() == 200L)
      // a source-side reference inside a by-source clause is refused
      // (no source row exists for an unmatched target row)
      val e = intercept[IllegalArgumentException] {
        Snapshots.sql(spark,
          s"""MERGE INTO graft_snapshot.`$dir` AS t
              USING mrb_src AS s ON t.k = s.k
              WHEN MATCHED THEN UPDATE SET v = s.v
              WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.v""")
      }
      assert(e.getMessage.contains("target row alone"), e.getMessage)
    }
  }

  test("large masks switch the anti join off the driver: shuffle branch reads identically") {
    withDv {
      val dir = tempTable()
      seed(dir)
      Snapshots.delete(spark, dir, "part", col("k") % 10L === 7L)
      val v = Snapshots.currentVersion(spark, dir)
      def planOf(df: org.apache.spark.sql.DataFrame): String =
        df.queryExecution.executedPlan.toString
      // default threshold: broadcast (the common small-mask case)
      val small = Snapshots.read(spark, dir, "part", v)
      assert(planOf(small).contains("BroadcastHashJoin"), planOf(small))
      val expect = small.select("k").as[Long].collect().sorted.toSeq
      // threshold 0 forces the large-mask branch: no broadcast — the
      // pairs stay distributed (shuffled hash), driver bytes bounded
      spark.conf.set("spark.graft.snapshot.dvBroadcastThreshold", "0")
      try {
        val big = Snapshots.read(spark, dir, "part", v)
        val p = planOf(big)
        assert(!p.contains("BroadcastHashJoin") &&
          p.contains("ShuffledHashJoin"), p)
        assert(big.select("k").as[Long].collect().sorted.toSeq == expect,
          "both anti-join branches must read back identically")
        // the DML kernels read through the same switch
        val v2 = Snapshots.delete(spark, dir, "part", col("k") === 0L)
        assert(Snapshots.read(spark, dir, "part", v2).count() ==
          expect.size - 1L)
      } finally
        spark.conf.unset("spark.graft.snapshot.dvBroadcastThreshold")
    }
  }

  test("DESCRIBE HISTORY surfaces mask debt (n_masked) per version") {
    withDv {
      val dir = tempTable()
      seed(dir)
      Snapshots.delete(spark, dir, "part", col("k") === 7L)
      Snapshots.delete(spark, dir, "part", col("k").isin(8L, 108L))
      Snapshots.optimize(spark, dir, "part")
      val h = Snapshots.history(spark, dir)
        .select("version", "n_masked")
        .as[(Long, Long)].collect().toMap
      assert(h(1L) == 0L && h(2L) == 1L && h(3L) == 3L,
        s"mask debt must accumulate per version, got $h")
      assert(h(4L) == 0L, "OPTIMIZE retires the masks — debt back to 0")
    }
  }

  test("MERGE with a composite ON key (t.a = s.a AND t.b = s.b)") {
    withDv {
      val dir = tempTable()
      // key = (grp, k): per-group k repeats across groups, so a
      // single-column join would multi-match — the composite key is
      // load-bearing, not decorative
      val df = (0L until 100L).map(k => (s"p${k % 2}", k % 10, k, k))
        .toDF("part", "grp", "k", "v")
        .repartitionByRange(2, col("part"))
      Snapshots.commit(spark, dir, df, "part", statsColumns = Seq("k"))
      Seq(("p0", 3L, 3L, -1L), ("p1", 7L, 97L, -2L))
        .toDF("part", "grp", "k", "v").createOrReplaceTempView("ck_src")
      val v = Snapshots.sql(spark,
        s"""MERGE INTO graft_snapshot.`$dir` AS t
            USING ck_src AS s ON t.grp = s.grp AND t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = s.v""")
        .collect()(0).getLong(0)
      val got = Snapshots.read(spark, dir, "part", v)
        .select("grp", "k", "v").as[(Long, Long, Long)].collect()
        .map { case (g, k, vv) => (g, k) -> vv }.toMap
      assert(got((3L, 3L)) == -1L && got((7L, 97L)) == -2L)
      // rows sharing ONE key part but not the tuple stay untouched
      assert(got((3L, 13L)) == 13L && got((7L, 7L)) == 7L)
      assert(got.values.count(_ < 0) == 2)
    }
  }

  test("DV DML is exact on HOSTILE partition values (spaces, percents, equals)") {
    // the per-file classification map crosses two path worlds — manifest
    // entry paths (listStatus) vs the scan's _metadata.file_path — and
    // the escaped partition-dir names are where they can disagree; a
    // mismatch would silently classify a matching file as clean and SKIP
    // the delete
    withDv {
      val dir = tempTable()
      val df = (0L until 300L).map(k =>
        // space, literal percent-escape lookalike, and '=' (all escaped
        // in dir names); non-ASCII is untestable here — the container
        // JVM runs sun.jnu.encoding=ASCII, so the FILESYSTEM rejects it
        // before any engine code runs
        (Seq("a b", "p%20q", "x=y+z")(k.toInt / 100), k, k * 10L))
        .toDF("part", "k", "v")
        .repartitionByRange(3, col("part")).sortWithinPartitions("part", "k")
      Snapshots.commit(spark, dir, df, "part", statsColumns = Seq("k"))
      val v2 = Snapshots.delete(spark, dir, "part",
        col("k").isin(7L, 107L, 207L)) // one needle per hostile partition
      assert(v2 == 2L, "the delete must commit")
      assert(filesOf(dir, v2) == filesOf(dir, 1L),
        "all three needles must take the mask path (no rewrite)")
      assert(dvRefs(dir, v2).size == 3, dvRefs(dir, v2).toString)
      val ks = Snapshots.read(spark, dir, "part", v2)
        .select("k").as[Long].collect().toSet
      assert(ks.size == 297 && !ks(7L) && !ks(107L) && !ks(207L),
        "every hostile partition's needle must be masked")
      // and the update twin appends images into the right partitions
      Snapshots.update(spark, dir, "part", col("k") === 8L,
        Map("v" -> lit(-1L)))
      assert(Snapshots.read(spark, dir, "part")
        .filter(col("k") === 8L).select("part", "v")
        .as[(String, Long)].head() == ("a b", -1L))
    }
  }

  test("a new sidecar is bounded to the re-pointed files' masks, not shared-sidecar history") {
    withDv {
      val dir = tempTable()
      seed(dir)
      // one DELETE spanning BOTH files -> ONE shared sidecar both
      // entries reference
      Snapshots.delete(spark, dir, "part", col("k").isin(7L, 107L))
      assert(dvRefs(dir, 2L).size == 2)
      // a needle DELETE touching only p0: its new sidecar must carry
      // p0's old mask (resurrect safety) but NOT p1's rows riding on
      // the shared sidecar — that growth would compound over many
      // small DMLs
      Snapshots.delete(spark, dir, "part", col("k") === 8L)
      val p0File = filesOf(dir, 3L)("p0").head
      val sidecars = new java.io.File(s"$dir/_manifests/dv")
        .listFiles().map(_.toString).sorted
      val newest = spark.read.parquet(sidecars.last)
      val paths = newest.select("path").as[String].collect().toSet
      assert(paths.forall(_.contains(new org.apache.hadoop.fs.Path(p0File)
        .getName)), s"new sidecar must only mask p0's file, got $paths")
      assert(newest.filter(size(col("ords")) === 2).count() == 1L,
        "p0's mask = old {7} ∪ new {8}")
      // p1's entry still refs the shared sidecar: nothing resurrects
      val ks = Snapshots.read(spark, dir, "part", 3L)
        .select("k").as[Long].collect().toSet
      assert(!ks.contains(7L) && !ks.contains(8L) && !ks.contains(107L) &&
        ks.size == 197)
    }
  }

  test("a DV-bearing manifest stamps minReader=2; mask retirement drops it") {
    withDv {
      val dir = tempTable()
      seed(dir)
      assert(!manifestText(dir, 1L).contains("minReader="))
      val v2 = Snapshots.delete(spark, dir, "part", col("k") === 7L)
      assert(manifestText(dir, v2).contains("minReader=2"),
        "a manifest whose entries carry dv refs must gate old readers")
      // OPTIMIZE retires every mask -> the stamp goes away again
      val v3 = Snapshots.optimize(spark, dir, "part")
      assert(dvRefs(dir, v3).isEmpty)
      assert(!manifestText(dir, v3).contains("minReader="))
    }
  }

  test("dvEnabled unset keeps the pure-rewrite path byte-identical") {
    val dir = tempTable()
    seed(dir)
    val v2 = Snapshots.delete(spark, dir, "part", col("k") === 7L)
    assert(dvRefs(dir, v2).isEmpty, "no masks without the opt-in")
    assert(filesOf(dir, v2)("p0") != filesOf(dir, 1L)("p0"),
      "the default path still rewrites the affected file")
    assert(Snapshots.read(spark, dir, "part", v2).count() == 199L)
  }
}
