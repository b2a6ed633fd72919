package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Typed & multi-column partition identity (r18): `partCol` spec
  * strings ("day:date,region"), typed partition pruning through the
  * manifest file index, DML span pruning per partition column, hostile
  * values, the minReader=3 protocol gate, and legacy single-column
  * byte-compatibility. */
class SnapshotPartSpecSpec extends SparkSpec {
  import spark.implicits._

  private def tempTable(): String =
    tempDir("graft_pspec_spec")

  private def manifestText(dir: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$dir/_manifests/v$v%08d.txt")), "UTF-8")

  private def filesOf(dir: String, v: Long): Map[String, Set[String]] =
    manifestText(dir, v).split("\n").filterNot(_.startsWith("#")).toSeq
      .map(_.split("\t")).groupBy(_(0))
      .view.mapValues(_.map(_(1)).toSet).toMap

  private val Spec = "day:date,region"

  /** 4 partitions: 2 days x 2 regions, k clustered per partition */
  private def seed(dir: String): Long = {
    val df = (0L until 80L).map { k =>
      (java.sql.Date.valueOf(s"2024-01-0${1 + (k % 2)}"),
        if ((k / 2) % 2 == 0) "eu" else "us", k, k * 10L)
    }.toDF("day", "region", "k", "v")
      // one task per (day, region) -> exactly one file per partition
      .repartition(4, col("day"), col("region"))
    Snapshots.commit(spark, dir, df, Spec, statsColumns = Seq("k"))
  }

  test("two-column typed table: write, typed read-back, value encoding") {
    val dir = tempTable()
    seed(dir)
    val back = Snapshots.read(spark, dir, Spec)
    // the partition columns come back with their DECLARED types, from
    // the manifest alone
    assert(back.schema("day").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(back.schema("region").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(back.count() == 80L)
    assert(back.filter(col("region") === "eu").agg(sum("v"))
      .as[Long].head() ==
      (0L until 80L).filter(k => (k / 2) % 2 == 0).map(_ * 10).sum)
    // entry values are URL-encoded '/'-joins in spec order
    val values = filesOf(dir, 1L).keySet
    assert(values == Set("2024-01-01/eu", "2024-01-01/us",
      "2024-01-02/eu", "2024-01-02/us"), values)
    // the spec travels the manifest header; minReader=3 gates old readers
    assert(manifestText(dir, 1L).contains("partCol=day%3Adate%2Cregion"))
    assert(manifestText(dir, 1L).contains("minReader=3"))
  }

  test("typed partition predicates prune files at plan time (both columns)") {
    val dir = tempTable()
    seed(dir)
    val base = Snapshots.read(spark, dir, Spec)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(-1L)
    }
    val all = scannedFiles(base.select("k"))
    assert(all == 4L, s"expected one file per partition, got $all")
    // a DATE comparison prunes day partitions TYPED (not lexically)
    assert(scannedFiles(base
      .filter(col("day") > lit(java.sql.Date.valueOf("2024-01-01")))
      .select("k")) == 2L)
    // both columns together prune to one partition
    assert(scannedFiles(base
      .filter(col("day") === lit(java.sql.Date.valueOf("2024-01-02")) &&
        col("region") === "eu").select("k")) == 1L)
    // and the plan carries them as real PartitionFilters (no data read)
    val plan = base
      .filter(col("region") === "us").select("k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("region"),
      plan)
  }

  test("DML prunes by partition spans; untouched partitions carry by reference") {
    val dir = tempTable()
    seed(dir)
    val before = filesOf(dir, 1L)
    // a delete whose predicate pins day+region rewrites ONLY that
    // partition's file
    val v2 = Snapshots.delete(spark, dir, Spec,
      col("day") === lit(java.sql.Date.valueOf("2024-01-01")) &&
        col("region") === "eu" && col("k") < 10L)
    val after = filesOf(dir, v2)
    assert(after("2024-01-01/us") == before("2024-01-01/us") &&
      after("2024-01-02/eu") == before("2024-01-02/eu") &&
      after("2024-01-02/us") == before("2024-01-02/us"),
      "untouched partitions must carry by reference")
    assert(after("2024-01-01/eu") != before("2024-01-01/eu"))
    assert(Snapshots.read(spark, dir, Spec).count() ==
      80L - (0L until 80L).count(k =>
        k % 2 == 0 && (k / 2) % 2 == 0 && k < 10L))
    // UPDATE refuses SET on any partition column
    val e = intercept[IllegalArgumentException] {
      Snapshots.update(spark, dir, Spec, col("k") === 11L,
        Map("region" -> lit("apac")))
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
    // ...but updates a data column with partition-pruned selection
    val v3 = Snapshots.update(spark, dir, Spec,
      col("region") === "us" && col("k") === 11L, Map("v" -> lit(-1L)))
    assert(filesOf(dir, v3)("2024-01-02/eu") == before("2024-01-02/eu"))
    assert(Snapshots.read(spark, dir, Spec)
      .filter(col("k") === 11L).select("v").as[Long].head() == -1L)
  }

  test("append, merge, and the change feed on a multi-column table") {
    val dir = tempTable()
    seed(dir)
    val v2 = Snapshots.append(spark, dir,
      Seq((java.sql.Date.valueOf("2024-01-03"), "eu", 100L, 1000L))
        .toDF("day", "region", "k", "v"), Spec)
    assert(Snapshots.read(spark, dir, Spec).count() == 81L)
    // the appended partition landed as its own encoded value
    assert(filesOf(dir, v2).keySet.contains("2024-01-03/eu"))
    // keyed merge: span pruning groups by the ENCODED compound value
    val delta = Seq(
      ("U", java.sql.Date.valueOf("2024-01-03"), "eu", 100L, -5L),
      ("U", java.sql.Date.valueOf("2024-01-03"), "eu", 101L, 1010L))
      .toDF("op", "day", "region", "k", "v")
    val v3 = Snapshots.merge(spark, dir, Spec, "k", delta)
    // only the 2024-01-03/eu partition's file was rewritten
    assert(filesOf(dir, v3)("2024-01-01/eu") ==
      filesOf(dir, v2)("2024-01-01/eu"))
    assert(Snapshots.read(spark, dir, Spec)
      .filter(col("k") >= 100L).agg(sum("v")).as[Long].head() == 1005L)
    // the change feed scopes to the data-changed partition only
    val d = Snapshots.diff(spark, dir, Spec, v2, v3)
    assert(d.select("region").distinct().as[String].collect().toSet ==
      Set("eu"))
    assert(d.schema("day").dataType ==
      org.apache.spark.sql.types.DateType)
  }

  test("hostile multi-column values round-trip (spaces, slashes, percent)") {
    val dir = tempTable()
    val df = Seq(
      ("a b", "x/y", 1L), ("a+b", "x%2Fy", 2L), ("c", "d", 3L))
      .toDF("p1", "p2", "k")
    Snapshots.commit(spark, dir, df, "p1,p2", statsColumns = Seq("k"))
    val back = Snapshots.read(spark, dir, "p1,p2")
    assert(back.select("p1", "p2", "k").as[(String, String, Long)]
      .collect().toSet == Set(("a b", "x/y", 1L), ("a+b", "x%2Fy", 2L),
      ("c", "d", 3L)))
    // a '/' INSIDE a value must not be confused with the value join
    assert(back.filter(col("p2") === "x/y").select("k")
      .as[Long].head() == 1L)
    // DML on a hostile-valued partition addresses exactly it
    val v2 = Snapshots.delete(spark, dir, "p1,p2",
      col("p1") === "a b" && col("p2") === "x/y")
    assert(Snapshots.read(spark, dir, "p1,p2", v2)
      .select("k").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("format-native blooms skip files on point predicates bounds cannot prune") {
    val dir = tempTable()
    // 8 files; the digest column interleaves across files, so every
    // file's [min, max] spans nearly the whole domain — bounds can
    // never skip a point lookup here
    val df = (0L until 800L).map { i =>
      (s"p${i % 2}", i, graft.Exact.md5Hex(s"doc$i"))
    }.toDF("part", "k", "digest")
      .repartition(8, col("k") % 8)
    Snapshots.commit(spark, dir, df, "part",
      statsColumns = Seq("k"), bloomColumns = Seq("digest"))
    val m = manifestText(dir, 1L)
    assert(m.contains("digest%23bf="), "bloom cells must ride the stats")
    def scanned(df2: org.apache.spark.sql.DataFrame): Long = {
      df2.collect()
      df2.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(-1L)
    }
    val base = Snapshots.read(spark, dir, "part")
    val all = scanned(base.select("k"))
    assert(all >= 4L, s"fixture must hold >= 4 files, got $all")
    // a point lookup consults the per-file blooms: most files skip
    val probe = graft.Exact.md5Hex("doc123")
    val hit = base.filter(col("digest") === probe).select("k")
    assert(hit.as[Long].collect().toSeq == Seq(123L),
      "zero false negatives: the present key must be found")
    val nHit = scanned(hit)
    assert(nHit < all && nHit >= 1L,
      s"bloom skipping must cut the scan below $all files, got $nHit")
    // an ABSENT key prunes everything the 1008-bit/k=3 filters disprove
    assert(scanned(base.filter(col("digest") ===
      graft.Exact.md5Hex("never-written")).select("k")) < all)
    // every written key is found (no false negatives across the board)
    assert(base.filter(col("digest").isin(
      (0L until 800L by 97L).map(i => graft.Exact.md5Hex(s"doc$i")): _*))
      .count() == (0L until 800L by 97L).size)
    // DML selection shares couldMatch: a delete on an absent digest is
    // a provable no-op — no version lands
    val v0 = Snapshots.currentVersion(spark, dir)
    assert(Snapshots.delete(spark, dir, "part",
      col("digest") === graft.Exact.md5Hex("also-never")) == v0)
    // blooms CARRY by reference through an unrelated append and keep
    // skipping
    Snapshots.append(spark, dir,
      Seq(("p0", 9999L, "zzz")).toDF("part", "k", "digest"), "part")
    val after = Snapshots.read(spark, dir, "part")
    val nAfter = scanned(after.filter(col("digest") === probe).select("k"))
    assert(nAfter < scanned(after.select("k")),
      "carried blooms must keep pruning after an append")
  }

  test("table properties: per-table DV gate and default bloom columns") {
    val dir = tempTable()
    val df = (0L until 200L).map(k => (s"p${k % 2}", k, k * 10L))
      .toDF("part", "k", "v").repartitionByRange(2, col("part"))
    Snapshots.commit(spark, dir, df, "part", statsColumns = Seq("k"))
    // WITHOUT the session conf, DV DML rewrites; with the TABLE
    // property it masks — the per-table gate (Delta's
    // enableDeletionVectors shape)
    assert(spark.conf.getOption("spark.graft.snapshot.dvEnabled").isEmpty)
    val vP = Snapshots.setTableProperty(spark, dir,
      Snapshots.PropDvEnabled, "true")
    assert(Snapshots.tableProperties(spark, dir) ==
      Map(Snapshots.PropDvEnabled -> "true"))
    def files(v: Long): Set[String] =
      manifestText(dir, v).split("\n").filterNot(_.startsWith("#"))
        .map(_.split("\t")(1)).toSet
    val vD = Snapshots.delete(spark, dir, "part", col("k") === 7L)
    assert(files(vD) == files(vP),
      "a table-property-gated needle delete must mask, not rewrite")
    assert(manifestText(dir, vD).contains("minReader=2"))
    assert(Snapshots.read(spark, dir, "part", vD).count() == 199L)
    // the property rides every later commit; removing it restores the
    // rewrite path
    Snapshots.removeTableProperty(spark, dir, Snapshots.PropDvEnabled)
    val vD2 = Snapshots.delete(spark, dir, "part", col("k") === 8L)
    assert(files(vD2) != files(vD), "property removed -> rewrite again")
    // default bloom columns: an append records filters without the
    // caller passing bloomColumns
    val dir2 = tempTable()
    Snapshots.commit(spark, dir2,
      Seq(("p0", 1L, "aa")).toDF("part", "k", "digest"), "part")
    Snapshots.setTableProperty(spark, dir2,
      Snapshots.PropBloomColumns, "digest")
    val vA = Snapshots.append(spark, dir2,
      Seq(("p0", 2L, "bb")).toDF("part", "k", "digest"), "part")
    assert(manifestText(dir2, vA).contains("digest%23bf="),
      "the bloom-columns property must default the append's filters")
  }

  test("OPTIMIZE re-records blooms for columns the replaced files carried") {
    val dir = tempTable()
    val df = (0L until 400L).map { i =>
      (s"p${i % 2}", i, graft.Exact.md5Hex(s"d$i"))
    }.toDF("part", "k", "digest").repartition(8, col("k") % 8)
    Snapshots.commit(spark, dir, df, "part",
      statsColumns = Seq("k"), bloomColumns = Seq("digest"))
    val v2 = Snapshots.optimize(spark, dir, "part",
      targetFileBytes = 1L << 20)
    val m2 = manifestText(dir, v2)
    assert(m2.contains("digest%23bf="),
      "compaction must not strip the equality-skipping layer")
    // the re-recorded filters still find every key and still prune
    def scanned(d2: org.apache.spark.sql.DataFrame): Long = {
      d2.collect()
      d2.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.getOrElse(-1L)
    }
    val base = Snapshots.read(spark, dir, "part", v2)
    assert(base.filter(col("digest") === graft.Exact.md5Hex("d123"))
      .select("k").as[Long].collect().toSeq == Seq(123L))
    assert(scanned(base.filter(col("digest") ===
        graft.Exact.md5Hex("d123")).select("k")) <=
      scanned(base.select("k")))
  }

  test("vacuum file-grain retirement survives nested multi-column layouts") {
    val dir = tempTable()
    seed(dir) // v1: 4 (day, region) partitions, nested dirs
    // v2 rewrites one partition; v3 appends a new one — history to retire
    Snapshots.delete(spark, dir, Spec,
      col("day") === lit(java.sql.Date.valueOf("2024-01-01")) &&
        col("region") === "eu" && col("k") < 4L)
    Snapshots.append(spark, dir,
      Seq((java.sql.Date.valueOf("2024-01-05"), "eu", 500L, 5000L))
        .toDF("day", "region", "k", "v"), Spec)
    val before = Snapshots.read(spark, dir, Spec)
      .select("k").as[Long].collect().sorted.toSeq
    // vacuum to the latest version only: v1's replaced file retires,
    // every manifest-referenced file under the NESTED day=/region= dirs
    // must survive (the fixed-depth walk deleted them — review-caught)
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(Snapshots.read(spark, dir, Spec)
      .select("k").as[Long].collect().sorted.toSeq == before,
      "vacuum must never delete live files of a nested partition layout")
    // and the retired file is actually gone: only referenced files remain
    val live = Snapshots.read(spark, dir, Spec).count()
    assert(live == before.size.toLong)
  }

  test("malformed partition specs refuse loudly (trailing colon, empty component)") {
    for (bad <- Seq("day:", "a,,b", ":date", " , ")) {
      val e = intercept[IllegalArgumentException] {
        graft.sources.PartSpec.parse(bad)
      }
      assert(e.getMessage.contains("malformed") ||
        e.getMessage.contains("empty"), s"$bad -> ${e.getMessage}")
    }
  }

  test("merge expression resolution uses partition NAMES, not the spec string") {
    spark.conf.set("spark.graft.snapshot.dvEnabled", "true")
    try {
      val dir = tempTable()
      seed(dir)
      // the source ALSO carries `region`: a bare `region` reference in a
      // merge expression must be refused as ambiguous (it exists on both
      // sides) — with the raw spec string in the target set it silently
      // bound to the SOURCE side on typed/multi-column tables
      Seq((java.sql.Date.valueOf("2024-01-01"), "us", 0L, -1L))
        .toDF("day", "region", "k", "v").createOrReplaceTempView("ps_src")
      val e = intercept[IllegalArgumentException] {
        Snapshots.sql(spark,
          s"""MERGE INTO graft_snapshot.`$dir` AS t
              USING ps_src AS s ON t.k = s.k
              WHEN MATCHED AND region = 'eu' THEN UPDATE SET v = s.v""")
      }
      assert(e.getMessage.contains("BOTH sides"), e.getMessage)
      // ...and a by-source condition on a partition column RESOLVES
      // (it was spuriously refused as source-only before)
      val v = Snapshots.sql(spark,
        s"""MERGE INTO graft_snapshot.`$dir` AS t
            USING ps_src AS s ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED BY SOURCE AND t.region = 'us'
              AND t.k >= 76 THEN DELETE""").collect()(0).getLong(0)
      val got = Snapshots.read(spark, dir, Spec, v)
      assert(got.filter(col("k") === 0L).select("v").as[Long].head() == -1L)
      assert(got.filter(col("k") >= 76L && col("region") === "us")
        .count() == 0L)
      assert(got.filter(col("k") >= 76L && col("region") === "eu")
        .count() == 2L, "the eu rows must survive the us-only expiry")
    } finally spark.conf.unset("spark.graft.snapshot.dvEnabled")
  }

  test("legacy single-column tables stay byte-compatible (no minReader, bare header)") {
    val dir = tempTable()
    Snapshots.commit(spark, dir, Seq(("a", 1L)).toDF("part", "x"), "part")
    val txt = manifestText(dir, 1L)
    assert(txt.contains("partCol=part") && !txt.contains("minReader="),
      "a legacy table's manifest must not change shape")
    // a typed SINGLE column is a non-legacy spec: stamped minReader=3
    val dir2 = tempTable()
    Snapshots.commit(spark, dir2,
      Seq((java.sql.Date.valueOf("2024-02-01"), 1L)).toDF("day", "x"),
      "day:date")
    assert(manifestText(dir2, 1L).contains("minReader=3"))
    val b = Snapshots.read(spark, dir2, "day:date")
    assert(b.schema("day").dataType == org.apache.spark.sql.types.DateType)
    assert(b.count() == 1L)
    // unsupported partition types are refused with the supported list
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(spark, tempTable(),
        Seq((1.5, 1L)).toDF("p", "x"), "p:double")
    }
    assert(e.getMessage.contains("unsupported partition type"),
      e.getMessage)
  }
}
