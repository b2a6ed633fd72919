package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** The snapshot table format's three invariants (Snapshots.scala):
  * pinned-reader isolation under a concurrent rewrite, carry-by-
  * reference in partition-replace commits, and the loud optimistic-
  * concurrency failure at the manifest rename. */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def tempTable(): String =
    tempDir("graft_snap_spec")

  private def manifestText(dir: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$dir/_manifests/v$v%08d.txt")), "UTF-8")

  test("a reader pinned at N-1 is unaffected by a concurrent rewrite") {
    val dir = tempTable()
    val v1 = Snapshots.commit(spark, dir,
      Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("part", "x"), "part")
    assert(v1 == 1L)
    // resolve the pinned reader BEFORE the rewrite lands — its plan is
    // built from v1's immutable manifest
    val pinned = Snapshots.read(spark, dir, "part", v1)
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 100L)).toDF("part", "x"), "part")
    assert(v2 == 2L)
    // the pinned reader still sees exactly the v1 state
    val got = pinned.select("part", "x").as[(String, Long)].collect().sorted
    assert(got.sameElements(Array(("a", 1L), ("a", 2L), ("b", 10L))), got.toSeq)
    // re-resolving N-1 AFTER the rewrite sees the same bytes too
    val again = Snapshots.read(spark, dir, "part", v1)
      .select("part", "x").as[(String, Long)].collect().sorted
    assert(again.sameElements(got))
    // and latest is the rewritten state with the untouched partition intact
    val latest = Snapshots.read(spark, dir, "part")
      .select("part", "x").as[(String, Long)].collect().sorted
    assert(latest.sameElements(Array(("a", 100L), ("b", 10L))), latest.toSeq)
  }

  /** all of `part`'s FILE paths in version v's manifest (one line per file) */
  private def pathsOf(dir: String, v: Long, part: String): Set[String] =
    manifestText(dir, v).split("\n").filter(_.startsWith(part + "\t"))
      .map(_.split("\t")(1)).toSet

  test("commitReplace carries untouched partitions by reference, not by copy") {
    val dir = tempTable()
    Snapshots.commit(spark, dir,
      Seq(("a", 1L), ("b", 10L)).toDF("part", "x"), "part")
    Snapshots.commitReplace(spark, dir,
      Seq(("a", 2L)).toDF("part", "x"), "part")
    // untouched partition: the SAME immutable files in both manifests
    assert(pathsOf(dir, 2L, "b") == pathsOf(dir, 1L, "b"),
      "b must be carried by reference")
    // rewritten partition: fresh files under data/v00000002
    assert((pathsOf(dir, 2L, "a") intersect pathsOf(dir, 1L, "a")).isEmpty)
    assert(pathsOf(dir, 2L, "a").forall(_.contains("data/v00000002")))
  }

  test("vacuum retires old versions but never a file a kept manifest references") {
    val dir = tempTable()
    Snapshots.commit(spark, dir,
      Seq(("a", 1L), ("b", 10L)).toDF("part", "x"), "part")      // v1
    Snapshots.commitReplace(spark, dir,
      Seq(("a", 2L)).toDF("part", "x"), "part")                  // v2: b carried from v1
    Snapshots.commitReplace(spark, dir,
      Seq(("a", 3L)).toDF("part", "x"), "part")                  // v3: b still v1's dir
    // capture v1's entry FILES BEFORE its manifest is retired
    def fileOf(m: String, part: String) = java.nio.file.Paths.get(
      new java.net.URI(m.split("\n").find(_.startsWith(part + "\t"))
        .get.split("\t")(1)).getPath)
    val m1 = manifestText(dir, 1L)
    val (aDir1, bDir1) = (fileOf(m1, "a"), fileOf(m1, "b"))
    val dropped = Snapshots.vacuum(spark, dir, keepLast = 2)     // drop v1
    assert(dropped == Seq(1L), dropped)
    // v1 is gone: its manifest is deleted and reading it fails loudly
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, dir, "part", 1L).collect()
    }
    // v1's REPLACED partition dir (a) is unreachable and deleted...
    assert(!java.nio.file.Files.exists(aDir1))
    // ...but v1's b dir is still referenced by the KEPT v2/v3 manifests
    assert(java.nio.file.Files.exists(bDir1))
    // both kept versions read complete and correct after the vacuum
    val v2 = Snapshots.read(spark, dir, "part", 2L)
      .select("part", "x").as[(String, Long)].collect().sorted
    assert(v2.sameElements(Array(("a", 2L), ("b", 10L))), v2.toSeq)
    val v3 = Snapshots.read(spark, dir, "part", 3L)
      .select("part", "x").as[(String, Long)].collect().sorted
    assert(v3.sameElements(Array(("a", 3L), ("b", 10L))), v3.toSeq)
    // a SECOND vacuum whose window reaches below the already-retired
    // history must be a no-op, not a read of missing manifests
    assert(Snapshots.vacuum(spark, dir, keepLast = 3) == Seq.empty)
    assert(Snapshots.read(spark, dir, "part", 3L)
      .select("part", "x").as[(String, Long)].collect().sorted
      .sameElements(v3))
  }

  test("the manifest rename is the commit point and refuses to overwrite") {
    val dir = tempTable()
    Snapshots.commit(spark, dir, Seq(("a", 1L)).toDF("part", "x"), "part")
    // the conflict branch of the commit point itself: a winner's
    // manifest landed between the loser's currentVersion read and its
    // rename — the rename must refuse and throw, never clobber
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir, "_manifests/v00000001.txt")
    val before = manifestText(dir, 1L)
    val e = intercept[IllegalStateException] {
      Snapshots.writeManifestAtomic(fs, p, "bogus\t/nowhere")
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // the loser must not have damaged the winner's manifest
    assert(manifestText(dir, 1L) == before)
    // data dirs are PER-WRITER UNIQUE (version prefix + nonce): racers
    // for one version write disjoint dirs and collide only at the rename,
    // so a loser's files can never interleave into the winner's dir (the
    // corruption a shared data/vN would allow). A loser's orphan dir is
    // referenced by no manifest and the next vacuum retires it.
    val v2 = Snapshots.commit(spark, dir, Seq(("a", 2L)).toDF("part", "x"),
      "part")
    val orphan = java.nio.file.Paths.get(s"$dir/data/v00000002_orphan/part=a")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("junk.parquet"), "loser")
    // ...but an IN-FLIGHT writer's dir (version ABOVE the committed
    // latest: parquet written, manifest rename pending) must survive the
    // vacuum — its commit may legitimately succeed afterwards
    val inflight = java.nio.file.Paths.get(s"$dir/data/v00000003_pending/part=a")
    java.nio.file.Files.createDirectories(inflight)
    java.nio.file.Files.writeString(inflight.resolve("f.parquet"), "pending")
    Snapshots.vacuum(spark, dir, keepLast = 2) // keeps v1+v2, drops nothing
    assert(!java.nio.file.Files.exists(orphan), "orphan dir must be vacuumed")
    assert(java.nio.file.Files.exists(inflight),
      "an in-flight writer's dir must never be vacuumed")
    // the winner's data is untouched and fully readable
    val latest = Snapshots.read(spark, dir, "part", v2)
      .select("part", "x").as[(String, Long)].collect()
    assert(latest.sameElements(Array(("a", 2L))), latest.toSeq)
    assert(Snapshots.read(spark, dir, "part", 1L)
      .select("part", "x").as[(String, Long)].collect()
      .sameElements(Array(("a", 1L))))
  }

  test("hostile partition values round-trip exactly; NULL values are refused loudly") {
    // partition values travel dir-name-URL-encoded and come back from the
    // MANIFEST, never from directory-name parsing — so space, '=', '/',
    // '%', and already-percent-encoded-looking text must survive
    // commit -> read byte-exactly, at any version, through a replace commit
    val dir = tempTable()
    // (no non-ASCII value: this container's sun.jnu.encoding is ASCII, so
    // Spark's OWN partitioned write cannot create such a dir on the local
    // FS — an environment limit, not a format one; the URL-encoding round
    // trip under test is byte-level and covers multi-byte the same way)
    val hostile = Seq("a b", "x=y", "p/q", "50%", "a%20b", "a+b", "-", "0")
    val rows = hostile.zipWithIndex.map { case (p, i) => (p, i.toLong) }
    val v1 = Snapshots.commit(spark, dir, rows.toDF("part", "x"), "part")
    val got = Snapshots.read(spark, dir, "part", v1)
      .select("part", "x").as[(String, Long)].collect().sorted
    assert(got.toSeq == rows.sorted, got.toSeq)
    // a replace commit re-lists carried hostile values through the
    // manifest text unchanged
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq(("x=y", 99L)).toDF("part", "x"), "part")
    val after = Snapshots.read(spark, dir, "part", v2)
      .select("part", "x").as[(String, Long)].collect().sorted
    val want = (rows.filterNot(_._1 == "x=y") :+ ("x=y", 99L)).sorted
    assert(after.toSeq == want, after.toSeq)
    // and partition-column pruning still fires on an encoded value
    assert(Snapshots.read(spark, dir, "part", v2)
      .filter(col("part") === "a%20b").count() == 1)
    // NULL partition rows must be refused loudly, never silently
    // re-typed as the Hive default-partition string on read-back
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(spark, tempTable(),
        Seq((null: String, 1L), ("ok", 2L)).toDF("part", "x"), "part")
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    // '#'-leading values are refused: the manifest's first line is the
    // schema header, and a silent drop (the old blanket '#' filter)
    // would lose the partition on read AND let vacuum delete its dir
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.commit(spark, tempTable(),
        Seq(("#tag", 1L)).toDF("part", "x"), "part")
    }
    assert(e2.getMessage.contains("#"), e2.getMessage)
  }

  test("the recorded read schema is nullability-widened over carried files") {
    // v1's 'b' holds a real NULL; v2 rewrites only 'a' from a frame whose
    // x is NON-nullable (legal — nullability is outside the schema
    // contract). If v2's header recorded nullable=false, the optimizer
    // would fold IsNull(x) to false over b's real nulls — silently wrong.
    val dir = tempTable()
    Snapshots.commit(spark, dir,
      Seq(("a", java.lang.Long.valueOf(1L)),
        ("b", null: java.lang.Long)).toDF("part", "x"), "part")
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 2L)).toDF("part", "x"), "part") // x non-nullable here
    val rd = Snapshots.read(spark, dir, "part", v2)
    assert(rd.schema("x").nullable, "read schema must stay nullable")
    assert(rd.filter(col("x").isNull).count() == 1,
      "the carried NULL must survive the non-nullable rewrite's header")
  }

  test("commitRetry propagates non-race failures immediately") {
    // an unrelated error whose message merely contains "already exists"
    // must NOT be classified as a lost race and recomputed `attempts`
    // times — only the manifest CommitConflictException is a race
    val dir = tempTable()
    Snapshots.commit(spark, dir, Seq(("a", 1L)).toDF("part", "x"), "part")
    var calls = 0
    val e = intercept[RuntimeException] {
      Snapshots.commitRetry(spark, dir, "part") { _ =>
        calls += 1
        throw new RuntimeException("side output /tmp/x already exists")
      }
    }
    assert(e.getMessage.contains("side output"), e.getMessage)
    assert(calls == 1, s"non-race failure must not burn retries: $calls")
  }

  test("commitRetry re-reads and retries a lost race, pinned to the version it saw") {
    val dir = tempTable()
    Snapshots.commit(spark, dir, Seq(("a", 1L)).toDF("part", "x"), "part")
    // the transform records every version it was handed; on its FIRST
    // attempt a "racer" lands a commit between the read and the rename,
    // so the pinned commit must FAIL (never silently commit a state that
    // never saw the racer) and the retry must rebuild from the racer's
    // version
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var raceOnce = true
    val v = Snapshots.commitRetry(spark, dir, "part") { prev =>
      seen += prev
      if (raceOnce) {
        raceOnce = false
        Snapshots.commit(spark, dir, Seq(("a", 99L)).toDF("part", "x"), "part")
      }
      val base = Snapshots.read(spark, dir, "part", prev)
        .select("part", "x").as[(String, Long)].collect().toSeq
      (base.map { case (p, x) => (p, x + 1) }).toDF("part", "x")
    }
    assert(seen.toSeq == Seq(1L, 2L), s"attempts saw $seen")
    assert(v == 3L)
    // final state = increment applied to the RACER's state, not the stale one
    val got = Snapshots.read(spark, dir, "part", v)
      .select("part", "x").as[(String, Long)].collect()
    assert(got.sameElements(Array(("a", 100L))), got.toSeq)
  }

  test("diff scans only CHANGED partitions between two versions") {
    val dir = tempTable()
    val v1 = Snapshots.commit(spark, dir,
      Seq(("a", 1L), ("b", 10L), ("c", 20L)).toDF("part", "x"), "part")
    // rewrite a, delete c by emptying it, carry b untouched
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 2L)).toDF("part", "x"), "part", Set("c"))
    val d = Snapshots.diff(spark, dir, "part", v1, v2)
    val got = d.select("change", "part", "x").as[(String, String, Long)]
      .collect().sorted.toSeq
    // removed = fromV's rows of rewritten(a) + dropped(c); added = toV's
    // rewritten a; untouched b appears NOWHERE
    assert(got == Seq(("added", "a", 2L), ("removed", "a", 1L),
      ("removed", "c", 20L)), got)
    // the scan is bounded by changed partitions: b's immutable files are
    // in neither side's file index (the manifest-served index exposes
    // exactly the entries it plans — inputFiles is the whole plan)
    val bFiles = pathsOf(dir, v1, "b")
    assert(d.inputFiles.toSet.intersect(bFiles).isEmpty,
      "untouched partition must not be scanned")
    val plan = d.queryExecution.sparkPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 2, plan)
    // an unchanged pair diffs to empty (both sides limit(0))
    val v3 = Snapshots.optimize(spark, dir, "part") // no-op: nothing fragmented
    assert(v3 == v2)
    val v4 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 3L)).toDF("part", "x"), "part")
    assert(Snapshots.diff(spark, dir, "part", v2, v4)
      .filter(col("part") === "b").count() == 0)
  }

  test("read plans ONE scan node at any partition count, and prunes on the partition column") {
    // the manifest IS the file index: 120 partitions must still plan a
    // single FileSourceScan (a per-entry union fold would be a 120-deep
    // plan tree — the shape that explodes at real partition counts), and
    // a filter on the partition column must land as a PartitionFilter
    // (entries pruned before any data file is opened)
    val dir = tempTable()
    val df = (0 until 120).flatMap(p =>
      Seq((f"p$p%03d", p.toLong), (f"p$p%03d", p + 1000L))).toDF("part", "x")
    Snapshots.commit(spark, dir, df.repartition(8), "part")
    val rd = Snapshots.read(spark, dir, "part")
    assert(rd.count() == 240)
    val plan = rd.queryExecution.sparkPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      "expected exactly one scan node:\n" + plan)
    val one = rd.filter(col("part") === "p007")
    val pplan = one.queryExecution.sparkPlan.toString
    assert(pplan.contains("PartitionFilters") && pplan.contains("p007"),
      "partition filter not pushed to the scan:\n" + pplan)
    assert(one.count() == 2)
    // the partition column came back typed and valued from the manifest
    assert(one.select("x").as[Long].collect().sorted.sameElements(
      Array(7L, 1007L)))
    // manifest-level pruning: readPartitions never lists excluded
    // entries — the plan's location holds ONLY the selected dirs
    val rp = Snapshots.readPartitions(spark, dir, "part", Set("p007", "p011"))
    assert(rp.count() == 4)
    val rpPlan = rp.queryExecution.sparkPlan.toString
    assert(!rpPlan.contains("part=p005"), rpPlan)
    // absent values are empty, not an error
    assert(Snapshots.readPartitions(spark, dir, "part", Set("nope")).count() == 0)
  }

  test("optimize compacts small files into a new version without changing content") {
    val dir = tempTable()
    val rows = (1 to 40).map(i => (if (i % 2 == 0) "a" else "b", i.toLong))
    val v1 = Snapshots.commit(spark, dir, rows.toDF("part", "x").repartition(6),
      "part")
    def filesOf(v: Long, part: String): Int = {
      val paths = pathsOf(dir, v, part)
      // the manifest's per-file grain must agree with the filesystem
      paths.foreach(p => assert(
        java.nio.file.Files.exists(java.nio.file.Paths.get(new java.net.URI(p).getPath)),
        s"manifest lists a missing file: $p"))
      paths.size
    }
    assert(filesOf(v1, "a") > 1 && filesOf(v1, "b") > 1,
      "fixture must start fragmented")
    val before = Snapshots.read(spark, dir, "part", v1)
      .select("part", "x").as[(String, Long)].collect().sorted
    val v2 = Snapshots.optimize(spark, dir, "part")
    assert(v2 == v1 + 1, "optimize must land as exactly one new version")
    // file count drops to the bin-pack target...
    assert(filesOf(v2, "a") == 1 && filesOf(v2, "b") == 1)
    // ...content hash doesn't...
    val after = Snapshots.read(spark, dir, "part", v2)
      .select("part", "x").as[(String, Long)].collect().sorted
    assert(after.sameElements(before), "compaction changed the answer")
    // ...and version N still reads its own (fragmented) files
    assert(Snapshots.read(spark, dir, "part", v1)
      .select("part", "x").as[(String, Long)].collect().sorted
      .sameElements(before))
    // an already-compact table is a NO-OP: same version back, no commit
    assert(Snapshots.optimize(spark, dir, "part") == v2)
    assert(Snapshots.currentVersion(spark, dir) == v2)
    // manifest entries record per-file byte lengths at write time — the
    // metadata optimize() reads its candidates from — and a replace
    // commit carries an untouched entry's lines VERBATIM (immutable
    // files: stats never go stale)
    def statsOf(v: Long, part: String): (Int, Long) = {
      val ls = manifestText(dir, v).split("\n").filter(_.startsWith(part + "\t"))
        .map(_.split("\t"))
      (ls.length, ls.map(_(2).toLong).sum)
    }
    assert(statsOf(v1, "a")._1 > 1 && statsOf(v2, "a") == ((1, statsOf(v2, "a")._2)))
    val v3 = Snapshots.commitReplace(spark, dir,
      Seq(("b", 99L)).toDF("part", "x"), "part")
    assert(statsOf(v3, "a") == statsOf(v2, "a"), "carried stats must not change")
  }

  test("optimize(clusterBy) writes range-clustered files: near-disjoint per-file min/max") {
    val dir = tempTable()
    // one partition, values shuffled across 6 writer tasks -> fragmented
    // AND interleaved: every v1 file spans nearly the whole value range
    val rnd = new scala.util.Random(7)
    val rows = rnd.shuffle((1 to 200).toList).map(i => ("a", i.toLong))
    val v1 = Snapshots.commit(spark, dir, rows.toDF("part", "x").repartition(6),
      "part")
    def bytesOf(v: Long) = manifestText(dir, v).split("\n")
      .filter(_.startsWith("a\t")).map(_.split("\t")(2).toLong).sum
    val bytes = bytesOf(v1)
    // target = half the partition -> two bins, range-split on x
    val v2 = Snapshots.optimize(spark, dir, "part",
      targetFileBytes = bytes / 2 + 1, clusterBy = Seq("x"))
    assert(v2 == v1 + 1)
    val files = pathsOf(dir, v2, "a").toSeq
    assert(files.size >= 2, s"expected >= 2 clustered files, got ${files.size}")
    // per-file (min, max) ranges must be NON-OVERLAPPING (clustering is
    // what makes zonemap pruning bite) and the union must be the content
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("x"), max("x"), count(lit(1)))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }.sortBy(_._1)
    // ...and clusterBy's default statsColumns recorded each file's x
    // bounds in the manifest (the zonemap/file-skipping food)
    manifestText(dir, v2).split("\n").filter(_.startsWith("a\t")).foreach {
      l => assert(l.split("\t")(4).startsWith("x="), l)
    }
    ranges.sliding(2).foreach {
      case Seq((_, hi, _), (lo2, _, _)) =>
        assert(hi <= lo2, s"file ranges overlap: ${ranges.toSeq}")
      case _ => ()
    }
    assert(ranges.map(_._3).sum == 200L)
    assert(Snapshots.read(spark, dir, "part", v2)
      .select("x").as[Long].collect().sorted.toSeq == (1L to 200L))
    // CONVERGENCE: a partition already at its bin-pack fixpoint
    // (files == ceil(bytes/target), even though that exceeds
    // maxFilesPerPart) must be a NO-OP — not a fresh full rewrite every
    // night. v2 holds 2 files; with a target of half v2's own bytes the
    // fixpoint is exactly 2 files, so nothing qualifies.
    val bytes2 = bytesOf(v2)
    assert(Snapshots.optimize(spark, dir, "part",
      targetFileBytes = bytes2 / 2 + 1, clusterBy = Seq("x")) == v2)
  }

  test("commitReplace(replacedValues) drops an emptied partition instead of carrying it") {
    val dir = tempTable()
    val v1 = Snapshots.commit(spark, dir,
      Seq(("a", 1L), ("b", 10L)).toDF("part", "x"), "part")
    // a rewrite that deletes partition b's every row writes NO data for
    // b — without replacedValues that is indistinguishable from
    // "untouched" and the stale b would be silently carried forward
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq.empty[(String, Long)].toDF("part", "x"), "part", Set("b"))
    val got = Snapshots.read(spark, dir, "part", v2)
      .select("part", "x").as[(String, Long)].collect()
    assert(got.sameElements(Array(("a", 1L))), got.toSeq)
    // the old version still has b (immutability), and the default path
    // (no replacedValues) still carries an untouched partition
    assert(Snapshots.read(spark, dir, "part", v1).count() == 2)
    val v3 = Snapshots.commitReplace(spark, dir,
      Seq(("c", 7L)).toDF("part", "x"), "part")
    assert(Snapshots.read(spark, dir, "part", v3)
      .select("part", "x").as[(String, Long)].collect().sorted
      .sameElements(Array(("a", 1L), ("c", 7L))))
  }

  test("the schema contract fails loudly at COMMIT: partial rewrites cannot mix schemas") {
    val dir = tempTable()
    Snapshots.commit(spark, dir,
      Seq(("a", 1L), ("b", 2L)).toDF("part", "x"), "part")
    // same name, different type -> refused (the carried 'b' entries keep
    // the old files; one version would mix file schemas)
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitReplace(spark, dir,
        Seq(("a", "one")).toDF("part", "x"), "part")
    }
    assert(e.getMessage.contains("schema"), e.getMessage)
    // a FULL-snapshot commit may evolve the schema (every file rewritten)
    val v = Snapshots.commit(spark, dir,
      Seq(("a", "one")).toDF("part", "x"), "part")
    assert(Snapshots.read(spark, dir, "part", v)
      .select("x").as[String].collect().sameElements(Array("one")))
    // and a partition column whose frame type disagrees with the spec's
    // declared type (a bare name = string) is refused up front: values
    // travel through directory names
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.commit(spark, tempTable(),
        Seq((1, 1L)).toDF("part", "x"), "part")
    }
    assert(e2.getMessage.contains("declared string") &&
      e2.getMessage.contains("cast it"), e2.getMessage)
  }

  test("long histories: hint-assisted currentVersion and one-listing vacuum over 300 versions") {
    val dir = tempTable()
    Snapshots.commit(spark, dir, Seq(("a", 1L)).toDF("part", "x"), "part")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate a long history cheaply: 299 more manifests carrying v1's
    // data dir by reference (metadata-only — this test is about FS-call
    // shapes, not data movement)
    val m1 = manifestText(dir, 1L)
    for (v <- 2 to 300)
      Snapshots.writeManifestAtomic(fs,
        new org.apache.hadoop.fs.Path(dir, f"_manifests/v$v%08d.txt"), m1)
    // the hint still says 1 (the fabricated commits bypassed it): the
    // forward probe must find the true latest anyway
    assert(Snapshots.currentVersion(spark, dir) == 300L)
    // a TORN/garbage hint must never decide the answer
    val hp = new org.apache.hadoop.fs.Path(dir, "_manifests/_latest_hint")
    val out = fs.create(hp, true)
    out.write("garbage".getBytes("UTF-8")); out.close()
    assert(Snapshots.currentVersion(spark, dir) == 300L)
    // a MISSING hint falls back to one listing
    fs.delete(hp, false)
    assert(Snapshots.currentVersion(spark, dir) == 300L)
    // a real commit repairs the hint
    val v301 = Snapshots.commit(spark, dir, Seq(("a", 2L)).toDF("part", "x"),
      "part")
    assert(v301 == 301L)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifests/_latest_hint")), "UTF-8")
      .trim == "301")
    // vacuum the long history (one _manifests listing, no per-version
    // exists probes): keep the newest 3
    val dropped = Snapshots.vacuum(spark, dir, keepLast = 3)
    assert(dropped == (1L to 298L), s"${dropped.take(3)}..${dropped.takeRight(3)}")
    // v1's data dir survives — the kept v299/v300 manifests reference it
    assert(Snapshots.read(spark, dir, "part", 299L)
      .select("x").as[Long].collect().sameElements(Array(1L)))
    assert(Snapshots.read(spark, dir, "part", 301L)
      .select("x").as[Long].collect().sameElements(Array(2L)))
    // RESURRECTION guard: a stalled writer whose rename targets a
    // RETIRED version number (its manifest vacuumed away, so the
    // exists-guard no longer refuses) must be rejected by the retention
    // floor — otherwise it would commit a version whose data the vacuum
    // deleted
    val e2 = intercept[IllegalStateException] {
      Snapshots.writeManifestAtomic(fs,
        new org.apache.hadoop.fs.Path(dir, "_manifests/v00000042.txt"), m1)
    }
    assert(e2.getMessage.contains("retention floor"), e2.getMessage)
    assert(Snapshots.currentVersion(spark, dir) == 301L)
  }

  test("merge rewrites only the files whose key bounds hold delta keys; untouched files carry by reference") {
    val dir = tempTable()
    // one partition, 100 keys, clustered into 4 key-disjoint files with
    // recorded x-bounds — the layout a nightly OPTIMIZE CLUSTER BY keeps
    val v1 = Snapshots.commit(spark, dir,
      (1 to 100).map(i => ("a", i.toLong, s"p$i")).toDF("part", "x", "payload")
        .repartition(8), "part")
    val bytes = manifestText(dir, v1).split("\n").filter(_.startsWith("a\t"))
      .map(_.split("\t")(2).toLong).sum
    val v2 = Snapshots.optimize(spark, dir, "part",
      targetFileBytes = bytes / 4 + 1, clusterBy = Seq("x"))
    val before = pathsOf(dir, v2, "a")
    assert(before.size >= 3, s"fixture needs >=3 clustered files: $before")
    // a delta touching only keys 1..5 — one file's range
    val delta = Seq((1L, "one", "U"), (2L, "two", "U"), (5L, "", "D"))
      .toDF("x", "payload", "op").withColumn("part", lit("a"))
    val v3 = Snapshots.merge(spark, dir, "part", "x", delta)
    assert(v3 == v2 + 1)
    val after = pathsOf(dir, v3, "a")
    // FILE-grain carry: every file whose bounds exclude [1, 5] is the
    // SAME path in both manifests — only the low-range file was rewritten
    val carried = before intersect after
    assert(carried.size >= 2,
      s"untouched files must carry by reference: before=$before after=$after")
    assert((after -- before).nonEmpty, "the touched file must be rewritten")
    // fold semantics: upserts applied, delete applied, everything else kept
    val got = Snapshots.read(spark, dir, "part", v3)
      .select("x", "payload").as[(Long, String)].collect().sortBy(_._1)
    val want = ((1L, "one") +: (2L, "two") +:
      (3 to 100).filter(_ != 5).map(i => (i.toLong, s"p$i"))).sortBy(_._1)
    assert(got.toSeq == want, got.take(8).toSeq)
    // an INSERT (key beyond every file's bounds) lands via the full-outer
    // shape without touching any existing file
    val v4 = Snapshots.merge(spark, dir, "part", "x",
      Seq((999L, "new", "U")).toDF("x", "payload", "op")
        .withColumn("part", lit("a")))
    assert(Snapshots.read(spark, dir, "part", v4)
      .filter(col("x") === 999L).count() == 1)
    assert((pathsOf(dir, v3, "a") intersect pathsOf(dir, v4, "a")).size
      == pathsOf(dir, v3, "a").size,
      "an out-of-bounds insert must carry every existing file")
    // the change feed dates merge rows to the merge version
    val d = Snapshots.diff(spark, dir, "part", v2, v3)
      .select("change", "x").as[(String, Long)].collect()
    assert(d.nonEmpty && d.forall { case (_, x) => x <= 100 })
    // an EMPTY delta is a legal merge: commits a version that carries
    // every file (no partition dirs written, no stats job) and is
    // invisible to the change feed
    val v5 = Snapshots.merge(spark, dir, "part", "x",
      delta.limit(0))
    assert(v5 == v4 + 1)
    assert(Snapshots.read(spark, dir, "part", v5).count() ==
      Snapshots.read(spark, dir, "part", v4).count())
    assert(Snapshots.diff(spark, dir, "part", v4, v5).count() == 0)
    // a delete that EMPTIES every affected file while sibling files
    // carry writes NOTHING back for the partition — the carried siblings
    // must be stamped data-changed or the feed would MISS the delete
    // (the fuzz-found hole: the partition's max dataVersion would stay
    // old). Wipe everything at or above the max recorded file lo-bound:
    // range disjointness makes the affected set exactly the top file(s),
    // each emptied whole.
    val loMax = manifestText(dir, v5).split("\n").filter(_.startsWith("a\t"))
      .map(_.split("\t")(4)).filter(_.startsWith("x="))
      .map(_.stripPrefix("x=").split(",")(0).toLong).max
    val hiKeys = Snapshots.read(spark, dir, "part", v5)
      .filter(col("x") >= loMax).select("x").as[Long].collect()
    assert(hiKeys.nonEmpty)
    val wipeHi = hiKeys.toSeq.map(x => (x, "", "D"))
      .toDF("x", "payload", "op").withColumn("part", lit("a"))
    val v6 = Snapshots.merge(spark, dir, "part", "x", wipeHi)
    assert(Snapshots.read(spark, dir, "part", v6)
      .filter(col("x") >= loMax).count() == 0)
    val changes = Snapshots.diffRows(spark, dir, "part", "x", v5, v6)
      .select("change", "x").as[(String, Long)].collect()
    assert(changes.count(_._1 == "delete") == hiKeys.length,
      s"the feed must carry the emptied file's deletes: ${changes.toSeq}")
  }

  test("schema evolution: add-column replace commits in place; type change and drop stay refused") {
    val dir = tempTable()
    val v1 = Snapshots.commit(spark, dir,
      Seq(("a", 1L), ("b", 10L)).toDF("part", "x"), "part")
    // ADD a column while rewriting only partition a: carried b files
    // lack `y` and must read back NULL under v2's evolved header
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 2L, "extra")).toDF("part", "x", "y"), "part")
    val got = Snapshots.read(spark, dir, "part", v2)
      .select("part", "x", "y").as[(String, Long, Option[String])]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", 2L, Some("extra")), ("b", 10L, None)), got.toSeq)
    // time travel serves each version's OWN schema: v1 has no y
    assert(!Snapshots.read(spark, dir, "part", v1).columns.contains("y"))
    // a TYPE CHANGE against carried files is still refused loudly...
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitReplace(spark, dir,
        Seq(("a", "one", "z")).toDF("part", "x", "y"), "part")
    }
    assert(e.getMessage.contains("type change"), e.getMessage)
    // ...and so is a COLUMN DROP (carried files would keep serving y)
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.commitReplace(spark, dir,
        Seq(("a", 3L)).toDF("part", "x"), "part")
    }
    assert(e2.getMessage.contains("dropped column"), e2.getMessage)
    // the refused commits left no debris: the table still reads v2's state
    assert(Snapshots.read(spark, dir, "part").count() == 2)
    // merge over the evolved table sees the evolved schema
    val v3 = Snapshots.merge(spark, dir, "part", "x",
      Seq((10L, "by", "U")).toDF("x", "y", "op").withColumn("part", lit("b")))
    assert(Snapshots.read(spark, dir, "part", v3)
      .filter(col("part") === "b").select("y").as[Option[String]]
      .collect().toSeq == Seq(Some("by")))
    // the change feed spans the evolution: both sides served under the
    // TO version's schema, the removed (pre-evolution) rows null-fill y
    val d = Snapshots.diff(spark, dir, "part", v1, v2)
      .select("change", "part", "x", "y")
      .as[(String, String, Long, Option[String])].collect().sorted
    assert(d.toSeq == Seq(("added", "a", 2L, Some("extra")),
      ("removed", "a", 1L, None)), d.toSeq)
  }

  test("timestamp time travel resolves the latest version at or before the asked time") {
    val dir = tempTable()
    val v1 = Snapshots.commit(spark, dir, Seq(("a", 1L)).toDF("part", "x"), "part")
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 2L)).toDF("part", "x"), "part")
    assert(Snapshots.versionAt(spark, dir, between) == v1)
    assert(Snapshots.versionAt(spark, dir, System.currentTimeMillis()) == v2)
    assert(Snapshots.readAsOf(spark, dir, "part", between)
      .select("x").as[Long].collect().sameElements(Array(1L)))
    // a time before the first commit fails loudly, like reading below
    // the retention window
    val e = intercept[IllegalArgumentException] {
      Snapshots.versionAt(spark, dir, 1L)
    }
    assert(e.getMessage.contains("at or before"), e.getMessage)
  }

  test("recorded per-file bounds SKIP files at scan time: a range filter reads fewer files") {
    val dir = tempTable()
    val v1 = Snapshots.commit(spark, dir,
      (1 to 400).map(i => ("a", i.toLong)).toDF("part", "x").repartition(14),
      "part")
    val bytes = manifestText(dir, v1).split("\n").filter(_.startsWith("a\t"))
      .map(_.split("\t")(2).toLong).sum
    val v2 = Snapshots.optimize(spark, dir, "part",
      targetFileBytes = bytes / 8 + 1, clusterBy = Seq("x"))
    val total = pathsOf(dir, v2, "a").size
    assert(total >= 6, s"fixture needs >=6 clustered files, got $total")
    val narrow = Snapshots.read(spark, dir, "part", v2)
      .filter(col("x") >= 10L && col("x") <= 20L)
    assert(narrow.collect().map(_.getAs[Long]("x")).sorted.toSeq == (10L to 20L))
    // the scan's own metric (of the JUST-EXECUTED plan): the file index
    // served FEWER files than the manifest lists — pruned by the
    // recorded [lo, hi] bounds alone
    val scan = narrow.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles < total && numFiles >= 1,
      s"expected file skipping: read $numFiles of $total files")
  }

  test("OPTIMIZE Z-ORDER: a 2-D box query reads fewer files than the manifest lists, on BOTH dimensions' bounds") {
    val dir = tempTable()
    // two correlated-free dimensions; the Morton key interleaves them so
    // range-clustering on zkey localizes BOTH at once
    val rows = (0 until 1024).map { i =>
      val x = i % 32L; val y = i / 32L
      ("a", x, y)
    }
    val df = rows.toDF("part", "xk", "yk")
      .withColumn("zkey", graft.api.Graft.zorderKey(col("xk"), col("yk"), 5))
    val v1 = Snapshots.commit(spark, dir, df.repartition(12), "part")
    val bytes = manifestText(dir, v1).split("\n").filter(_.startsWith("a\t"))
      .map(_.split("\t")(2).toLong).sum
    val v2 = Snapshots.optimize(spark, dir, "part",
      targetFileBytes = bytes / 8 + 1, clusterBy = Seq("zkey"),
      statsColumns = Seq("zkey", "xk", "yk"))
    val total = pathsOf(dir, v2, "a").size
    assert(total >= 6, s"fixture needs >=6 z-clustered files, got $total")
    // a box selective in BOTH dimensions — a 1-D sort on xk alone could
    // not bound yk per file; the Morton layout bounds both
    val box = Snapshots.read(spark, dir, "part", v2)
      .filter(col("xk").between(4, 7) && col("yk").between(4, 7))
    // collect() on THIS frame so the metrics below are the just-executed
    // plan's (count() would spawn its own execution)
    assert(box.collect().length == 16)
    val scan = box.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles < total && numFiles >= 1,
      s"expected 2-D file skipping: read $numFiles of $total files")
  }

  test("commitRetry treats a vacuumed-away base version as a lost race, not a hard failure") {
    val dir = tempTable()
    Snapshots.commit(spark, dir, Seq(("a", 1L)).toDF("part", "x"), "part")
    // first attempt: racers land TWO commits and a vacuum retires the
    // version this attempt pinned, so its read fails "does not exist" —
    // the same lost race one step earlier; the loop must re-resolve and
    // succeed against the racers' latest, never escape
    var raceOnce = true
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val v = Snapshots.commitRetry(spark, dir, "part") { prev =>
      seen += prev
      if (raceOnce) {
        raceOnce = false
        Snapshots.commit(spark, dir, Seq(("a", 98L)).toDF("part", "x"), "part")
        Snapshots.commit(spark, dir, Seq(("a", 99L)).toDF("part", "x"), "part")
        Snapshots.vacuum(spark, dir, keepLast = 1)
      }
      Snapshots.read(spark, dir, "part", prev)
        .select("part", "x").as[(String, Long)].collect().toSeq
        .map { case (p, x) => (p, x + 1) }.toDF("part", "x")
    }
    assert(seen.toSeq == Seq(1L, 3L), s"attempts saw $seen")
    assert(Snapshots.read(spark, dir, "part", v)
      .select("x").as[Long].collect().sameElements(Array(100L)))
  }

  test("diffRows emits row images — insert/delete/update pre+post — and suppresses ride-along rows") {
    val dir = tempTable()
    val v1 = Snapshots.commit(spark, dir,
      Seq(("a", 1L, "p1"), ("a", 2L, "p2"), ("b", 10L, "q1"))
        .toDF("part", "k", "payload"), "part")
    // rewrite a: k=1 rides along unchanged, k=2 deleted, k=3 inserted
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 1L, "p1"), ("a", 3L, "p3")).toDF("part", "k", "payload"),
      "part")
    val d12 = Snapshots.diffRows(spark, dir, "part", "k", v1, v2)
      .select("change", "part", "k", "payload")
      .as[(String, String, Long, String)].collect().sorted.toSeq
    // the unchanged k=1 row was REWRITTEN (its partition was) yet emits
    // nothing — the row-level signal the partition feed cannot give;
    // untouched partition b appears nowhere
    assert(d12 == Seq(("delete", "a", 2L, "p2"), ("insert", "a", 3L, "p3")),
      d12)
    // an in-place payload change emits both images
    val v3 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 1L, "P1"), ("a", 3L, "p3")).toDF("part", "k", "payload"),
      "part")
    val d23 = Snapshots.diffRows(spark, dir, "part", "k", v2, v3)
      .select("change", "k", "payload")
      .as[(String, Long, String)].collect().sorted.toSeq
    assert(d23 == Seq(("update_postimage", 1L, "P1"),
      ("update_preimage", 1L, "p1")), d23)
    // a compaction is invisible at row grain too (dataVersion carry)
    val v4 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 5L, "x"), ("a", 6L, "y"), ("a", 7L, "z"))
        .toDF("part", "k", "payload").repartition(3), "part")
    val v5 = Snapshots.optimize(spark, dir, "part")
    assert(v5 > v4 && Snapshots.diffRows(spark, dir, "part", "k", v4, v5)
      .count() == 0)
  }

  test("SQL surface: USING graft_snapshot serves VERSION AS OF / TIMESTAMP AS OF as plain SQL") {
    val dir = tempTable()
    val v1 = Snapshots.commit(spark, dir,
      Seq(("a", 1L), ("b", 10L)).toDF("part", "x"), "part")
    Thread.sleep(20)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 2L)).toDF("part", "x"), "part")
    def view(name: String, extra: String): Unit = spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW $name
         |USING graft_snapshot
         |OPTIONS (path '$dir', partCol 'part'$extra)""".stripMargin)
    view("snap_v1", s", versionAsOf '$v1'")
    view("snap_v2", s", versionAsOf '$v2'")
    view("snap_ts", s", timestampAsOf '$between'")
    view("snap_latest", "")
    def rows(name: String) = spark.sql(s"SELECT part, x FROM $name ORDER BY part, x")
      .as[(String, Long)].collect().toSeq
    assert(rows("snap_v1") == Seq(("a", 1L), ("b", 10L)))
    assert(rows("snap_v2") == Seq(("a", 2L), ("b", 10L)))
    assert(rows("snap_ts") == rows("snap_v1"), "timestampAsOf must resolve v1")
    assert(rows("snap_latest") == rows("snap_v2"))
    // the SQL read plans EXACTLY like the Scala read: one FileSourceScan,
    // partition filters pushed to the manifest-served index
    val q = spark.sql(s"SELECT x FROM snap_v2 WHERE part = 'a'")
    val plan = q.queryExecution.sparkPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("PartitionFilters") && plan.contains("a"), plan)
    assert(q.as[Long].collect().sameElements(Array(2L)))
    // option validation fails loudly
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW bad USING graft_snapshot " +
        s"OPTIONS (path '$dir', partCol 'part', versionAsOf '1', " +
        "timestampAsOf '12345')")
    }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW bad2 USING graft_snapshot " +
        s"OPTIONS (path '$dir')")
    }
    // the human-readable UTC timestamp form parses too
    val utc = java.time.Instant.ofEpochMilli(between)
      .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime.toString.replace('T', ' ')
    view("snap_ts2", s", timestampAsOf '$utc'")
    assert(rows("snap_ts2") == rows("snap_v1"))
    // DESCRIBE HISTORY from SQL: the audit view as a relation
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW snap_hist " +
      s"USING graft_snapshot OPTIONS (path '$dir', history 'true')")
    val hist = spark.sql(
      "SELECT version, op FROM snap_hist ORDER BY version")
      .as[(Long, String)].collect().toSeq
    assert(hist == Seq((v1, "commit"), (v2, "replace")), hist)
  }

  test("dynamic partition pruning fires through the manifest-served index") {
    // the star-schema prune over the table format: the filter lives on
    // the JOINED dim, so plan-time PartitionFilters cannot know the
    // surviving partition values — the snapshot scan must carry a
    // dynamicpruning subquery fed by the broadcast dim, and the
    // ManifestFileIndex must serve FEWER files at runtime than the
    // manifest lists (DPP composes with any FileIndex via listFiles's
    // partition filters; this pins that the log-served index is no
    // exception)
    val dir = tempTable()
    val factRows = (0 until 20).flatMap(p =>
      (0 until 3).map(i => (f"p$p%02d", p * 10L + i)))
    Snapshots.commit(spark, dir, factRows.toDF("part", "x"), "part")
    val dimDir = tempDir("graft_snap_dim")
    (0 until 20).map(p => (f"p$p%02d", if (p % 7 == 0) "keep" else "drop"))
      .toDF("part", "cls").write.mode("overwrite").parquet(dimDir)
    val fact = Snapshots.read(spark, dir, "part")
    val j = fact.join(broadcast(
      spark.read.parquet(dimDir).filter(col("cls") === "keep")), Seq("part"))
      .select("part", "x")
    val got = j.collect()
    assert(got.length == 9, s"3 kept partitions x 3 rows: ${got.length}")
    // the scan sits inside AQE query stages after execution — unwrap
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
    }.flatten
    val all = scans(j.queryExecution.executedPlan)
    val scan = all.find(_.relation.location.isInstanceOf[
      org.apache.spark.sql.graftbridge.ManifestFileIndex]).getOrElse(
      fail(s"no manifest-served scan found among ${all.size} scans"))
    assert(scan.toString.contains("dynamicpruning"),
      "snapshot scan must be dynamically pruned by the dim filter:\n" + scan)
    val numFiles = scan.metrics("numFiles").value
    assert(numFiles > 0 && numFiles < 20,
      s"runtime prune must read only kept partitions' files: $numFiles of >= 20")
  }

  test("DELETE/UPDATE WHERE rewrite only files whose recorded bounds may match; provably-clean files carry") {
    val dir = tempTable()
    val rows = (1 to 100).map(i => ("a", i.toLong, s"p$i")) ++
      (500 to 510).map(i => ("b", i.toLong, s"q$i"))
    val v1 = Snapshots.commit(spark, dir,
      rows.toDF("part", "x", "payload").repartition(8), "part",
      statsColumns = Seq("x"))
    val bytes = manifestText(dir, v1).split("\n").filter(_.startsWith("a\t"))
      .map(_.split("\t")(2).toLong).sum
    val v2 = Snapshots.optimize(spark, dir, "part",
      targetFileBytes = bytes / 4 + 1, clusterBy = Seq("x"))
    val aBefore = pathsOf(dir, v2, "a")
    val bBefore = pathsOf(dir, v2, "b")
    assert(aBefore.size >= 3, s"fixture needs clustered files: $aBefore")
    // DELETE a range living in a's top file(s); the partCol conjunct
    // prunes b EXACTLY (partition value = a stats column with lo=hi)
    val v3 = Snapshots.delete(spark, dir, "part",
      col("x") >= 90L && col("part") === "a")
    assert(v3 == v2 + 1)
    assert(pathsOf(dir, v3, "b") == bBefore, "b is provably clean: carried")
    assert((aBefore intersect pathsOf(dir, v3, "a")).size >= 2,
      "a's low-range files are provably clean: carried")
    assert(Snapshots.read(spark, dir, "part", v3)
      .filter(col("part") === "a").agg(max(col("x"))).collect()(0)
      .getLong(0) == 89L)
    // UPDATE a narrow range; everything outside its files carries
    val v4 = Snapshots.update(spark, dir, "part",
      col("x").between(10L, 19L), Map("payload" -> lit("HIT")))
    val got = Snapshots.read(spark, dir, "part", v4)
      .filter(col("part") === "a")
      .select("x", "payload").as[(Long, String)].collect()
    assert(got.filter(r => r._1 >= 10 && r._1 <= 19).forall(_._2 == "HIT"))
    assert(got.filter(r => r._1 < 10 || r._1 > 19)
      .forall(r => r._2 == s"p${r._1}"), "non-matching rows untouched")
    assert(pathsOf(dir, v4, "b") == bBefore)
    // the feed sees both as data changes, with row images
    val d = Snapshots.diffRows(spark, dir, "part", "x", v3, v4)
      .select("change", "x").as[(String, Long)].collect()
    assert(d.forall { case (c, x) => x >= 10 && x <= 19 &&
      c.startsWith("update_") }, d.toSeq)
    // a predicate the bounds PROVE empty is a no-op: no commit at all
    assert(Snapshots.delete(spark, dir, "part", col("x") > 10000L) == v4)
    assert(Snapshots.currentVersion(spark, dir) == v4)
    // guard rails: SET partCol refused; unknown predicate column refused
    intercept[IllegalArgumentException] {
      Snapshots.update(spark, dir, "part", lit(true), Map("part" -> lit("z")))
    }
    intercept[IllegalArgumentException] {
      Snapshots.delete(spark, dir, "part", col("nope") > 1L)
    }
  }

  test("restore commits a metadata-only rollback: old files by reference, feed emits the rollback, vacuum keeps them") {
    val dir = tempTable()
    val v1 = Snapshots.commit(spark, dir,
      Seq(("a", 1L), ("b", 10L), ("c", 20L)).toDF("part", "x"), "part")
    val v2 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 2L)).toDF("part", "x"), "part", Set("c")) // a rewritten, c dropped
    val v3 = Snapshots.restore(spark, dir, "part", v1)
    assert(v3 == v2 + 1)
    // content = v1's exactly, via v1's FILES (zero data movement)
    assert(Snapshots.read(spark, dir, "part", v3)
      .select("part", "x").as[(String, Long)].collect().sorted.toSeq
      == Seq(("a", 1L), ("b", 10L), ("c", 20L)))
    assert(pathsOf(dir, v3, "b") == pathsOf(dir, v1, "b"))
    assert(pathsOf(dir, v3, "a") == pathsOf(dir, v1, "a"),
      "restore must reference, never rewrite")
    // the feed carries the rollback: a back to 1 (changed), c re-added,
    // b untouched (same files in v2 and v3 — not emitted)
    val d = Snapshots.diff(spark, dir, "part", v2, v3)
      .select("change", "part", "x").as[(String, String, Long)]
      .collect().sorted.toSeq
    assert(d == Seq(("added", "a", 1L), ("added", "c", 20L),
      ("removed", "a", 2L)), d)
    // the bad version stays auditable until retention retires it...
    assert(Snapshots.read(spark, dir, "part", v2)
      .filter(col("part") === "a").select("x").as[Long].collect()
      .sameElements(Array(2L)))
    // DESCRIBE HISTORY: ops recorded per version, wall-clock present,
    // sizes from the manifests alone
    val h = Snapshots.history(spark, dir)
      .select("version", "op", "n_partitions", "ts_millis")
      .as[(Long, Option[String], Int, Option[Long])].collect().toSeq
    assert(h.map(r => (r._1, r._2, r._3)) == Seq(
      (v1, Some("commit"), 3), (v2, Some("replace"), 2),
      (v3, Some("restore"), 3)), h)
    assert(h.forall(_._4.nonEmpty), "commit time must be recorded")
    // ...and vacuuming it cannot touch the restored version's files —
    // the v3 manifest references them (carry-by-reference's keep clause)
    val dropped = Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(dropped == Seq(1L, 2L), dropped)
    assert(Snapshots.read(spark, dir, "part", v3)
      .select("part", "x").as[(String, Long)].collect().sorted.toSeq
      == Seq(("a", 1L), ("b", 10L), ("c", 20L)))
    // restore-to-current is a no-op; restoring a vacuumed version fails
    assert(Snapshots.restore(spark, dir, "part", v3) == v3)
    intercept[IllegalArgumentException] {
      Snapshots.restore(spark, dir, "part", v2)
    }
  }

  test("CHECK constraints: add validates existing data, every later commit enforces, drop lifts") {
    val dir = tempTable()
    val v1 = Snapshots.commit(spark, dir,
      Seq(("a", java.lang.Long.valueOf(1L)), ("b", java.lang.Long.valueOf(10L)))
        .toDF("part", "x"), "part")
    val v2 = Snapshots.addConstraint(spark, dir, "part", "x_pos", "x > 0")
    assert(v2 == v1 + 1)
    assert(Snapshots.constraints(spark, dir) == Seq("x_pos" -> "x > 0"))
    // a metadata-only constraint version is invisible to the change feed
    assert(Snapshots.diff(spark, dir, "part", v1, v2).count() == 0)
    // a violating replace is REFUSED between write and rename — the
    // table never holds the row, the version never exists
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitReplace(spark, dir,
        Seq(("a", java.lang.Long.valueOf(-5L))).toDF("part", "x"), "part")
    }
    assert(e.getMessage.contains("x_pos"), e.getMessage)
    assert(Snapshots.currentVersion(spark, dir) == v2)
    // NULL passes (SQL CHECK semantics), and a conforming commit
    // CARRIES the constraint forward
    val v3 = Snapshots.commitReplace(spark, dir,
      Seq(("a", java.lang.Long.valueOf(2L)), ("c", null: java.lang.Long))
        .toDF("part", "x"), "part")
    assert(Snapshots.constraints(spark, dir, v3) == Seq("x_pos" -> "x > 0"))
    // the DML/merge write paths enforce too
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.update(spark, dir, "part", col("x") === 2L,
        Map("x" -> lit(-9L)))
    }
    assert(e2.getMessage.contains("x_pos"), e2.getMessage)
    // adding a constraint the EXISTING data violates is refused
    val e3 = intercept[IllegalArgumentException] {
      Snapshots.addConstraint(spark, dir, "part", "x_small", "x < 2")
    }
    assert(e3.getMessage.contains("existing"), e3.getMessage)
    // drop lifts enforcement
    Snapshots.dropConstraint(spark, dir, "x_pos")
    val v5 = Snapshots.commitReplace(spark, dir,
      Seq(("a", java.lang.Long.valueOf(-5L))).toDF("part", "x"), "part")
    assert(Snapshots.read(spark, dir, "part", v5)
      .filter(col("part") === "a").select("x").as[Long].collect()
      .sameElements(Array(-5L)))
    // history records the constraint operations
    val ops = Snapshots.history(spark, dir).select("op").as[String]
      .collect().toSeq
    assert(ops == Seq("commit", "add_constraint", "replace",
      "drop_constraint", "replace"), ops)
  }

  test("TRUE concurrent writers: parallel commitRetry increments lose no update and write a contiguous history") {
    // the OCC loop under real thread interleaving (the single-threaded
    // race-injection test drives the branches; this drives the CLOCK):
    // every increment reads the version it pinned and writes read+1, so
    // ANY lost update makes the final counter fall short. Spark is
    // thread-safe for concurrent actions on one session; the commit
    // point itself is the manifest rename (atomic-with-refusal on HDFS;
    // the local-FS caveat of invariant 3 has a sub-microsecond window
    // against multi-hundred-ms attempts here).
    val dir = tempTable()
    Snapshots.commit(spark, dir, Seq(("a", 0L)).toDF("part", "x"), "part")
    val writers = 4
    val perWriter = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val tasks = (1 to writers * perWriter).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            Snapshots.commitRetry(spark, dir, "part", attempts = 80) { prev =>
              val cur = Snapshots.read(spark, dir, "part", prev)
                .agg(max(col("x"))).collect()(0).getLong(0)
              Seq(("a", cur + 1)).toDF("part", "x")
            }
        })
      }
      val versions = tasks.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      // every commit landed a DISTINCT version, history is contiguous
      assert(versions.toSet.size == versions.size, s"duplicate versions: $versions")
      assert(versions.sorted == (2L to (1L + writers * perWriter)),
        versions.sorted.toString)
      // and no increment was lost: the final counter is exactly the count
      val fin = Snapshots.read(spark, dir, "part")
        .agg(max(col("x"))).collect()(0).getLong(0)
      assert(fin == writers * perWriter, s"lost update: $fin")
    } finally pool.shutdownNow()
  }

  test("conditional-PUT commit point: the OCC fuzz stays green against a fake object store") {
    // the object-store commit protocol (stage, ONE conditional put,
    // loser classification, tmp cleanup, floor re-check) driven by the
    // same true-thread increment fuzz as the link(2) path — the fake
    // store's atomic arbiter is a ConcurrentHashMap.putIfAbsent (the
    // If-None-Match semantics), with the winner materializing the
    // object so readers see it. A deliberately NON-atomic
    // check-then-write here would lose updates exactly like the POSIX
    // rename the link(2) fix closed.
    val dir = tempTable()
    val claimed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val putCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val fakeStore = new Snapshots.ConditionalPutCommitPoint((p, bytes) => {
      putCalls.incrementAndGet()
      if (!claimed.add(p.toString)) false // store-side atomic refusal
      else {
        // a real store's PUT is atomically visible (no reader ever sees
        // a partial object) — model that with write-then-rename, or the
        // fake would inject a torn-read failure mode the protocol under
        // test is not responsible for
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val staging = new org.apache.hadoop.fs.Path(p.getParent,
          s".put_${p.getName}_${System.nanoTime()}")
        val out = fs.create(staging, false)
        try out.write(bytes) finally out.close()
        assert(fs.rename(staging, p), s"fake store materialize failed: $p")
        true
      }
    })
    Snapshots.commitPointOverride.set(fakeStore)
    try {
      Snapshots.commit(spark, dir, Seq(("a", 0L)).toDF("part", "x"), "part")
      val writers = 4; val perWriter = 2
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      try {
        val tasks = (1 to writers * perWriter).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            override def call(): Long =
              Snapshots.commitRetry(spark, dir, "part", attempts = 80) { prev =>
                val cur = Snapshots.read(spark, dir, "part", prev)
                  .agg(max(col("x"))).collect()(0).getLong(0)
                Seq(("a", cur + 1)).toDF("part", "x")
              }
          })
        }
        val versions = tasks.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
        assert(versions.toSet.size == versions.size, s"dup versions: $versions")
        val fin = Snapshots.read(spark, dir, "part")
          .agg(max(col("x"))).collect()(0).getLong(0)
        assert(fin == writers * perWriter, s"lost update: $fin")
      } finally pool.shutdownNow()
      // every commit really went through the store protocol
      assert(putCalls.get() >= 1 + writers * perWriter, putCalls.get().toString)
    } finally Snapshots.commitPointOverride.set(null)
  }

  test("stalled writer self-aborts when its commit lands below the retention floor") {
    // the residual floor/vacuum race, folded into the commit contract:
    // simulate a writer whose conditional put lands AFTER a concurrent
    // vacuum raised the floor over its slot — the post-commit re-check
    // must delete the just-landed manifest and classify the commit as a
    // lost race, never leave a version whose files vacuum is deleting
    val dir = tempTable()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.commit(spark, dir, Seq(("a", 1L)).toDF("part", "x"), "part")
    // the stalled writer targets v2 while the table holds only v1 — its
    // pre-checks PASS (slot empty, floor 0); then, inside the stall
    // window (modeled as the commit point itself), racers land v2..v4
    // and a vacuum retires v2/v3 and raises the floor over the slot;
    // the stalled rename then lands into the FREED v2 slot — the
    // resurrection shape — and the post-commit floor re-check must
    // self-abort it.
    val stallPoint = new Snapshots.CommitPoint {
      def commit(f: org.apache.hadoop.fs.FileSystem,
          target: org.apache.hadoop.fs.Path, content: Array[Byte],
          stage: () => org.apache.hadoop.fs.Path): Unit = {
        Snapshots.commitPointOverride.set(null) // racers use the real point
        (2 to 4).foreach(i => Snapshots.commitReplace(spark, dir,
          Seq(("a", i.toLong)).toDF("part", "x"), "part"))
        Snapshots.vacuum(spark, dir, keepLast = 1) // floor = 3, v2 slot freed
        Snapshots.RenameCommitPoint.commit(f, target, content, stage)
      }
    }
    Snapshots.commitPointOverride.set(stallPoint)
    try {
      val e = intercept[Snapshots.CommitConflictException] {
        Snapshots.writeManifestAtomic(fs,
          new org.apache.hadoop.fs.Path(dir, "_manifests/v00000002.txt"),
          "#meta\tts=1 op=commit\na\t/nope\t1\t2\t-")
      }
      assert(e.getMessage.contains("self-aborted"), e.getMessage)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(dir,
        "_manifests/v00000002.txt")),
        "the self-abort must remove the landed manifest")
      // the table is untouched: v4 still reads
      assert(Snapshots.read(spark, dir, "part")
        .select("x").as[Long].collect().toSeq == Seq(4L))
    } finally Snapshots.commitPointOverride.set(null)
  }

  test("concurrent file-grain merges: racing writers all land, none lost") {
    // 8 parallel single-key merges; each lost rename re-plans the whole
    // merge against the racer's latest (merge's own OCC loop) — every
    // key must land exactly once
    val dir = tempTable()
    Snapshots.commit(spark, dir,
      Seq(("a", 0L, "seed")).toDF("part", "k", "payload"), "part",
      statsColumns = Seq("k"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = Snapshots.merge(spark, dir, "part", "k",
            Seq((i.toLong, s"p$i", "U")).toDF("k", "payload", "op")
              .withColumn("part", lit("a")), attempts = 80)
        })
      }
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      val got = Snapshots.read(spark, dir, "part")
        .select("k", "payload").as[(Long, String)].collect().sorted.toSeq
      assert(got == ((0L, "seed") +: (1 to 8).map(i => (i.toLong, s"p$i"))),
        got)
      assert(Snapshots.currentVersion(spark, dir) == 9L)
    } finally pool.shutdownNow()
  }

  test("randomized commit/replace/optimize/read/vacuum interleaving: every surviving version reads its recorded content") {
    // the format's whole contract under one seeded fuzz: after each op,
    // a randomly chosen SURVIVING version must read back exactly the
    // content the driver-side model recorded for it at commit time — and
    // after each commit/replace/optimize, diff(prev, new) must equal the
    // model's dataVersion semantics (the model carries a per-partition
    // write STAMP: commit/replace bump touched partitions' stamps,
    // OPTIMIZE bumps none — compaction is dataChange=false — so the
    // model knows exactly which partitions the feed must emit)
    val dir = tempTable()
    val rnd = new scala.util.Random(20260815L)
    val parts = Vector("a", "b", "c", "d", "e")
    // version -> part -> (writeStamp, rows)
    var expected = Map.empty[Long, Map[String, (Long, Seq[Long])]]
    var live = Vector.empty[Long]
    var counter = 0L
    var stamp = 0L
    def freshRows(ps: Seq[String]): Map[String, (Long, Seq[Long])] =
      ps.map { p =>
        stamp += 1
        p -> (stamp, Seq.fill(1 + rnd.nextInt(3)) { counter += 1; counter })
      }.toMap
    def toDf(m: Map[String, (Long, Seq[Long])]) =
      m.toSeq.flatMap { case (p, (_, xs)) => xs.map((p, _)) }
        .toDF("part", "x").repartition(2)
    def checkDiff(a: Long, b: Long, step: Int): Unit = {
      val (ma, mb) = (expected(a), expected(b))
      val gotD = Snapshots.diff(spark, dir, "part", a, b)
        .select("change", "part", "x").as[(String, String, Long)]
        .collect().sorted.toSeq
      val wantD = (
        ma.toSeq.filter { case (p, (st, _)) => !mb.get(p).exists(_._1 == st) }
          .flatMap { case (p, (_, xs)) => xs.map(("removed", p, _)) } ++
        mb.toSeq.filter { case (p, (st, _)) => !ma.get(p).exists(_._1 == st) }
          .flatMap { case (p, (_, xs)) => xs.map(("added", p, _)) }).sorted
      assert(gotD == wantD, s"diff($a,$b) diverged at step $step")
    }
    for (step <- 1 to 30) {
      rnd.nextInt(10) match {
        case r if r <= 3 || live.isEmpty =>
          val m = freshRows(rnd.shuffle(parts).take(1 + rnd.nextInt(parts.size)))
          val prev = live.lastOption
          val v = Snapshots.commit(spark, dir, toDf(m), "part")
          expected += v -> m; live :+= v
          prev.filter(expected.contains).foreach(checkDiff(_, v, step))
        case r if r <= 6 =>
          val touched = rnd.shuffle(parts).take(1 + rnd.nextInt(3))
          val emptied =
            if (rnd.nextBoolean()) Set(touched.head) else Set.empty[String]
          val m = freshRows(touched.filterNot(emptied))
          val merged = (expected(live.last) -- touched) ++ m
          if (merged.nonEmpty) {
            val prev = live.last
            val v = Snapshots.commitReplace(spark, dir, toDf(m), "part", emptied)
            expected += v -> merged; live :+= v
            checkDiff(prev, v, step)
          }
        case r if r <= 7 && live.size >= 2 =>
          val keep = 1 + rnd.nextInt(3)
          val dropped = Snapshots.vacuum(spark, dir, keep)
          live = live.filterNot(dropped.contains)
          expected --= dropped
        case 8 => // OPTIMIZE: content of the new version == previous latest,
          // and rewritten files CARRY their predecessors' dataVersion —
          // a compaction is dataChange=false, so the model keeps every
          // stamp and diff across it must be EMPTY (the feed-suppression
          // contract incremental consumers rely on)
          val prev = live.last
          val v = Snapshots.optimize(spark, dir, "part")
          if (v != prev) { // no-op when nothing is fragmented
            expected += v -> expected(prev)
            live :+= v
            checkDiff(prev, v, step)
          }
        case 9 => // FILE-GRAIN MERGE: delete a few existing keys (x values
          // are globally unique — they ARE the keys) and insert fresh
          // ones; every delta-touched partition whose files the merge
          // rewrote — even to nothing — gets a fresh stamp (the
          // dataChange rule the emptied-file delete forced), untouched
          // partitions keep theirs
          val prev = live.last
          val model = expected(prev)
          val allRows = model.toSeq.flatMap { case (p, (_, xs)) => xs.map((p, _)) }
          val dels = rnd.shuffle(allRows).take(rnd.nextInt(3))
          val inss = Seq.fill(rnd.nextInt(3)) {
            counter += 1
            (parts(rnd.nextInt(parts.size)), counter)
          }
          if (dels.nonEmpty || inss.nonEmpty) {
            val delta = (dels.map { case (p, x) => (x, p, "D") } ++
              inss.map { case (p, x) => (x, p, "U") })
              .toDF("x", "part", "op")
            val v = Snapshots.merge(spark, dir, "part", "x", delta)
            val delByPart = dels.groupBy(_._1).view
              .mapValues(_.map(_._2).toSet).toMap
            val insByPart = inss.groupBy(_._1).view
              .mapValues(_.map(_._2)).toMap
            val touched = delByPart.keySet ++ insByPart.keySet
            val next = (model.keySet ++ touched).toSeq.sorted.flatMap { p =>
              val xs = model.get(p).map(_._2).getOrElse(Seq.empty)
              val nxs = xs.filterNot(delByPart.getOrElse(p, Set.empty)) ++
                insByPart.getOrElse(p, Seq.empty)
              if (nxs.isEmpty) None
              else if (!touched(p)) Some(p -> model(p))
              else { stamp += 1; Some(p -> (stamp, nxs)) }
            }.toMap
            expected += v -> next
            live :+= v
            checkDiff(prev, v, step)
          }
        case _ => () // idle tick: the post-op read below still runs
      }
      val v = live(rnd.nextInt(live.size))
      val got = Snapshots.read(spark, dir, "part", v)
        .select("part", "x").as[(String, Long)].collect().sorted.toSeq
      val want = expected(v).toSeq
        .flatMap { case (p, (_, xs)) => xs.map((p, _)) }.sorted
      assert(got == want, s"version $v diverged from its model at step $step")
    }
    assert(live.nonEmpty && expected.nonEmpty)
  }

  test("segmented manifests: read-identity, ref-carry, and vacuum GC") {
    val dir = tempTable()
    val plain = tempTable()
    val df = (1 to 60).map(i => (s"p${i % 6}", i.toLong)).toDF("part", "x")
      .repartition(12) // many files per partition => many entries
    // force the segmented path (threshold 8 entries/segment)
    spark.conf.set("spark.graft.snapshot.segmentRows", "8")
    try {
      Snapshots.commit(spark, dir, df, "part", statsColumns = Seq("x"))
      spark.conf.set("spark.graft.snapshot.segmentRows", "100000")
      Snapshots.commit(spark, plain, df, "part", statsColumns = Seq("x"))
      spark.conf.set("spark.graft.snapshot.segmentRows", "8")
      val m1 = manifestText(dir, 1L)
      assert(m1.contains("#seg\t"), "v1 must reference segment files")
      assert(!m1.split("\n").exists(l => !l.startsWith("#")),
        "all v1 entries must live in segments (past-threshold fold)")
      // READ-IDENTITY: segmented and inline tables serve the same rows
      val a = Snapshots.read(spark, dir, "part")
        .select("part", "x").as[(String, Long)].collect().sorted.toSeq
      val b = Snapshots.read(spark, plain, "part")
        .select("part", "x").as[(String, Long)].collect().sorted.toSeq
      assert(a == b && a.size == 60)
      // REF-CARRY: a partition-replace carries untouched segments as the
      // SAME `#seg` names (metadata write is O(touched), not O(table))
      Snapshots.commitReplace(spark, dir,
        Seq(("p0", 1000L)).toDF("part", "x"), "part")
      def segNames(v: Long): Set[String] = manifestText(dir, v).split("\n")
        .filter(_.startsWith("#seg\t")).map(_.split("\t")(1)).toSet
      val carriedRefs = segNames(1L) intersect segNames(2L)
      assert(carriedRefs.nonEmpty,
        "untouched segments must carry by reference across commits")
      // segments fully inside the rewritten partition cannot carry; the
      // v2 read still serves exactly the replaced state
      val v2 = Snapshots.read(spark, dir, "part")
        .select("part", "x").as[(String, Long)].collect().sorted.toSeq
      assert(v2 == (b.filterNot(_._1 == "p0") :+ ("p0", 1000L)).sorted)
      // HISTORY comes from the #stats rollup header (no entry parse) and
      // matches the full-parse truth
      val h = Snapshots.history(spark, dir)
        .select("version", "n_files", "bytes").as[(Long, Int, Long)]
        .collect().map { case (k, nf, nb) => k -> (nf, nb) }.toMap
      val m2 = Snapshots.readManifest(spark, dir, 2L)
      assert(h(2L)._1 == m2.entries.size &&
        h(2L)._2 == m2.entries.map(_.bytes).sum)
      // VACUUM GC: retiring v1 must drop segments only v1 referenced and
      // keep every segment v2 still references
      Snapshots.vacuum(spark, dir, keepLast = 1)
      val segsDir = java.nio.file.Paths.get(dir, "_manifests", "segs")
      val onDisk = java.nio.file.Files.list(segsDir).toArray
        .map(_.toString.split("/").last).toSet
        .filterNot(_.startsWith(".")) // local-FS .crc sidecars
      assert(segNames(2L).subsetOf(onDisk), "kept refs must survive vacuum")
      assert((onDisk -- segNames(2L)).isEmpty,
        s"unreferenced segments must be GC'd, left: ${onDisk -- segNames(2L)}")
      // and the post-vacuum read is intact
      val after = Snapshots.read(spark, dir, "part")
        .select("part", "x").as[(String, Long)].collect().sorted.toSeq
      assert(after == v2)
    } finally spark.conf.unset("spark.graft.snapshot.segmentRows")
  }

  test("column mapping: rename/drop are metadata-only, re-add never resurrects, writes land physical") {
    val dir = tempTable()
    Snapshots.commit(spark, dir,
      Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("part", "k", "v"), "part",
      statsColumns = Seq("k"))
    val files1 = manifestText(dir, 1L).split("\n")
      .filterNot(_.startsWith("#")).map(_.split("\t")(1)).toSet
    // RENAME v -> w: metadata-only (same files), old version keeps 'v'
    val v2 = Snapshots.renameColumn(spark, dir, "v", "w")
    val files2 = manifestText(dir, v2).split("\n")
      .filterNot(_.startsWith("#")).map(_.split("\t")(1)).toSet
    assert(files2 == files1, "rename must move zero data")
    assert(Snapshots.read(spark, dir, "part", v2)
      .select("part", "k", "w").as[(String, Long, Long)].collect().sorted
      .sameElements(Array(("a", 1L, 10L), ("b", 2L, 20L))))
    assert(Snapshots.read(spark, dir, "part", 1L).columns.contains("v"),
      "v1 serves its own pre-rename schema")
    // a write AFTER the rename stores the PHYSICAL name; the read
    // serves the logical one — and carried + fresh files agree
    val v3 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 1L, 11L)).toDF("part", "k", "w"), "part",
      statsColumns = Seq("k"))
    assert(Snapshots.read(spark, dir, "part", v3)
      .select("part", "k", "w").as[(String, Long, Long)].collect().sorted
      .sameElements(Array(("a", 1L, 11L), ("b", 2L, 20L))))
    // physical on disk: the fresh file's parquet schema holds 'v'
    val freshFile = manifestText(dir, v3).split("\n")
      .filterNot(_.startsWith("#")).map(_.split("\t")(1))
      .filterNot(files1).head
    val physCols = spark.read.parquet(freshFile).columns.toSet
    assert(physCols("v") && !physCols("w"),
      s"files must store the physical name: $physCols")
    // DML after a rename still selects its rewrite set from the
    // physically-keyed bounds: an out-of-range delete is a NO-OP commit
    val pre = Snapshots.currentVersion(spark, dir)
    assert(Snapshots.delete(spark, dir, "part", col("k") > 100L) == pre,
      "bounds-proven-empty delete must not commit")
    // DROP w, then RE-ADD a column named w: fresh physical name, the
    // old bytes must NOT resurrect
    val v4 = Snapshots.dropColumn(spark, dir, "w")
    assert(!Snapshots.read(spark, dir, "part", v4).columns.contains("w"))
    val v5 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 1L, 777L)).toDF("part", "k", "w"), "part")
    val readd = Snapshots.read(spark, dir, "part", v5)
      .select("part", "k", "w").as[(String, Long, Option[Long])]
      .collect().map { case (p, k, w) => (p, k) -> w }.toMap
    assert(readd(("a", 1L)).contains(777L))
    assert(readd(("b", 2L)).isEmpty,
      s"carried file's retired bytes must read as NULL, got $readd")
    // constraint-referenced columns refuse rename/drop
    Snapshots.addConstraint(spark, dir, "part", "kpos", "k >= 0")
    assert(intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, dir, "k", "key")
    }.getMessage.contains("kpos"))
    assert(intercept[IllegalArgumentException] {
      Snapshots.dropColumn(spark, dir, "k")
    }.getMessage.contains("kpos"))
  }

  test("RESTORE carries the retired-physical-names list (no resurrection after a rollback)") {
    val dir = tempTable()
    Snapshots.commit(spark, dir,
      Seq(("p0", 1L, 10L), ("p1", 2L, 20L)).toDF("part", "k", "a"), "part")
    val v2 = Snapshots.dropColumn(spark, dir, "a") // retires physical 'a'
    // touch one partition so there is something to roll back over
    Snapshots.commitReplace(spark, dir,
      Seq(("p0", 1L)).toDF("part", "k"), "part")
    val v4 = Snapshots.restore(spark, dir, "part", v2)
    assert(manifestText(dir, v4).contains("retired="),
      "the rollback manifest must keep carrying the retired list")
    // re-adding a column named 'a' after the rollback must bind a FRESH
    // physical name: p1's carried v1-era file still stores bytes under
    // physical 'a' and they must NOT resurrect
    val v5 = Snapshots.commitReplace(spark, dir,
      Seq(("p0", 1L, 999L)).toDF("part", "k", "a"), "part")
    val got = Snapshots.read(spark, dir, "part", v5)
      .select("part", "k", "a").as[(String, Long, Option[Long])]
      .collect().map { case (p, k, a) => (p, k) -> a }.toMap
    assert(got(("p0", 1L)).contains(999L))
    assert(got(("p1", 2L)).isEmpty,
      s"dropped bytes resurrected through the rollback: $got")
  }

  test("UNIQUE catches duplicates between a rewritten file and a carried sibling of the same partition") {
    val dir = tempTable()
    val df = Seq(("p0", 1L, 100L), ("p0", 2L, 200L), ("p0", 3L, 300L),
      ("p0", 4L, 400L)).toDF("part", "k", "u")
      .repartitionByRange(2, col("part"), col("k"))
      .sortWithinPartitions("part", "k")
    Snapshots.commit(spark, dir, df, "part", statsColumns = Seq("k"))
    assert(manifestText(dir, 1L).split("\n").count(!_.startsWith("#")) >= 2,
      "fixture needs >= 2 files in the partition")
    Snapshots.addUniqueConstraint(spark, dir, "part", "uq", Seq("u"))
    // the UPDATE's bounds-selected rewrite touches only k=4's file; the
    // duplicate it writes (u=100) lives in the CARRIED sibling — a
    // written-rows-only check would miss it
    val e = intercept[IllegalArgumentException] {
      Snapshots.update(spark, dir, "part", col("k") === 4L,
        Map("u" -> lit(100L)))
    }
    assert(e.getMessage.contains("uq"), e.getMessage)
    // the table never held the violation, and a clean update still lands
    assert(Snapshots.read(spark, dir, "part")
      .select("u").as[Long].collect().sorted.toSeq ==
      Seq(100L, 200L, 300L, 400L))
    Snapshots.update(spark, dir, "part", col("k") === 4L,
      Map("u" -> lit(444L)))
    assert(Snapshots.read(spark, dir, "part")
      .select("u").as[Long].collect().sorted.toSeq ==
      Seq(100L, 200L, 300L, 444L))
  }

  test("writer tasks collect file stats: identical bounds to the driver footer path, zero driver footer reads") {
    // the commit protocol ships per-file [min, max] inside the task
    // commit messages (StatsCommitProtocol) — the driver must fold
    // payloads, never open footers. Pin BOTH halves: (a) a normal
    // commit performs zero driver footer reads, (b) the recorded bounds
    // are byte-identical to what the driver footer pool records on the
    // same data (the seam forces the old path for the comparison).
    def df = Seq(
      ("a", 7L, "zeta", BigDecimal("12.3400"), java.sql.Date.valueOf("2024-01-05"), 1.5),
      ("a", -3L, "alpha", BigDecimal("-0.0100"), java.sql.Date.valueOf("2023-11-30"), -2.25),
      ("b c%d", 100L, "mid", BigDecimal("99999.9999"), java.sql.Date.valueOf("2025-06-01"), 0.0),
      ("b c%d", 42L, "omega", BigDecimal("0.0001"), java.sql.Date.valueOf("2020-02-29"), 3.75))
      .toDF("part", "k", "s", "dec", "d", "x")
      .repartitionByRange(2, col("part"), col("k"))
      .sortWithinPartitions("part", "k")
    val cols = Seq("k", "s", "dec", "d", "x")
    // per-partition multiset of per-file stats maps — file NAMES differ
    // between the two commits, the recorded bounds must not
    def statsOf(dir: String): Map[String, Seq[Map[String, (String, String)]]] =
      Snapshots.readManifest(spark, dir, 1L).entries
        .groupBy(_.value).view.mapValues(
          _.map(_.stats).sortBy(_.toSeq.sorted.mkString("|"))).toMap
    val taskDir = tempTable()
    val before = Snapshots.driverFooterReads.get()
    Snapshots.commit(spark, taskDir, df, "part", statsColumns = cols)
    assert(Snapshots.driverFooterReads.get() == before,
      "a normal commit must record bounds with ZERO driver footer reads")
    val driverDir = tempTable()
    Snapshots.taskStatsDisabled.set(true)
    try Snapshots.commit(spark, driverDir, df, "part", statsColumns = cols)
    finally Snapshots.taskStatsDisabled.set(false)
    assert(Snapshots.driverFooterReads.get() > before,
      "the seam must have routed the comparison commit through the driver pool")
    val (task, driver) = (statsOf(taskDir), statsOf(driverDir))
    assert(task == driver,
      s"task-collected bounds diverge from the driver footer path:\n" +
        s"task:   $task\ndriver: $driver")
    // and the bounds are real: every stats column recorded on every file
    assert(task.values.flatten.forall(st => cols.forall(st.contains)),
      s"missing bounds in $task")
  }

  test("timestamp statsColumns still record bounds under INT96 parquet output") {
    // Spark's default parquet timestamp encoding (INT96) writes no
    // usable footer statistics — the collector must fall back to the
    // aggregation job for exactly those columns instead of silently
    // recording nothing (which would cliff every timestamp-keyed
    // merge/DML into rewrite-everything)
    val dir = tempTable()
    val df = Seq(
      ("a", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("a", 2L, java.sql.Timestamp.valueOf("2024-06-01 12:30:00")))
      .toDF("part", "k", "ts")
    Snapshots.commit(spark, dir, df, "part", statsColumns = Seq("k", "ts"))
    val m = Snapshots.readManifest(spark, dir, 1L)
    val stats = m.entries.flatMap(_.stats.keys).toSet
    assert(stats("k") && stats("ts"),
      s"both columns must carry bounds, got $stats")
    // and the recorded ts bounds actually skip: a 2023 range can match
    // no file, so DELETE over it must be a provable no-op (no commit)
    val cur = Snapshots.currentVersion(spark, dir)
    assert(Snapshots.delete(spark, dir, "part",
      col("ts") < java.sql.Timestamp.valueOf("2023-01-01 00:00:00")) == cur,
      "ts-bounds-proven-empty delete must not commit")
  }

  test("commitIdempotent: a replayed batch is a no-op, interleaved maintenance doesn't confuse the stamp") {
    val dir = tempTable()
    val app = "sinkA"
    val v1 = Snapshots.commitIdempotent(spark, dir,
      Seq(("a", 1L)).toDF("part", "x"), "part", app, batchId = 0L)
    val v2 = Snapshots.commitIdempotent(spark, dir,
      Seq(("a", 2L)).toDF("part", "x"), "part", app, batchId = 1L)
    assert(v1 == 1L && v2 == 2L)
    // REPLAY of batch 1 (crash between sink commit and engine commit-log
    // write, then restart): must be a NO-OP even with different bytes in
    // hand — the recorded stamp, not the content, decides
    val vReplay = Snapshots.commitIdempotent(spark, dir,
      Seq(("a", 999L)).toDF("part", "x"), "part", app, batchId = 1L)
    assert(vReplay == v2 && Snapshots.currentVersion(spark, dir) == v2)
    assert(Snapshots.read(spark, dir, "part")
      .select("x").as[Long].collect().toSeq == Seq(2L),
      "the replay must not have changed the table")
    // maintenance between batches must not hide the stamp: the txn walk
    // skips unstamped versions (restore here; optimize/constraint ops
    // behave the same)
    Snapshots.restore(spark, dir, "part", v1)
    val vReplay2 = Snapshots.commitIdempotent(spark, dir,
      Seq(("a", 999L)).toDF("part", "x"), "part", app, batchId = 1L)
    assert(vReplay2 == Snapshots.currentVersion(spark, dir) &&
      Snapshots.history(spark, dir).count() == 3,
      "replay after maintenance must still be a no-op")
    // a DIFFERENT app's stamps are independent
    val vB = Snapshots.commitIdempotent(spark, dir,
      Seq(("a", 5L)).toDF("part", "x"), "part", "sinkB", batchId = 0L)
    assert(vB == 4L)
    // and the next genuine batch commits
    val v5 = Snapshots.commitIdempotent(spark, dir,
      Seq(("a", 6L)).toDF("part", "x"), "part", app, batchId = 2L)
    assert(v5 == 5L)
  }

  test("BuilderCommitPoint: object-store conditional create — selection, winner, loser, no staging") {
    // scheme routing: FLAT object stores get the conditional-create
    // builder, local keeps link(2), HDFS-class AND hierarchical cloud
    // filesystems (abfs/wasb — create is visible-then-append there, so
    // a crash mid-stream would leave a torn manifest; their rename IS
    // atomic) keep the rename point
    for (sch <- Seq("s3a", "gs", "oss"))
      assert(Snapshots.pointForScheme(sch) eq Snapshots.BuilderCommitPoint, sch)
    assert(Snapshots.pointForScheme("file") eq Snapshots.LinkCommitPoint)
    for (sch <- Seq("hdfs", "abfs", "abfss", "wasb", "viewfs"))
      assert(Snapshots.pointForScheme(sch) eq Snapshots.RenameCommitPoint, sch)
    // protocol through the SAME public builder API the connectors
    // implement, against the local fs: winner lands the complete bytes,
    // the loser classifies as the OCC conflict, and staging is never
    // invoked (the bytes go straight to the store)
    val dir = tempTable()
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = new org.apache.hadoop.fs.Path(dir, "_manifests/v1.txt")
    fs.mkdirs(target.getParent)
    var staged = 0
    def stage(): org.apache.hadoop.fs.Path = { staged += 1; target }
    Snapshots.BuilderCommitPoint.commit(fs, target,
      "winner".getBytes("UTF-8"), stage _)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifests", "v1.txt")),
      "UTF-8") == "winner")
    val e = intercept[Exception] {
      Snapshots.BuilderCommitPoint.commit(fs, target,
        "loser".getBytes("UTF-8"), stage _)
    }
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifests", "v1.txt")),
      "UTF-8") == "winner", "the loser must not clobber the winner")
    assert(staged == 0, "the builder point must never stage a tmp file")
  }

  test("delete-recreate at the same path never serves the old table's cached manifest") {
    val dir = tempTable()
    Snapshots.commit(spark, dir,
      Seq(("a", 1L)).toDF("part", "x"), "part")
    // read once so the manifest parse is cached (and the commit itself
    // primed it write-through)
    assert(Snapshots.read(spark, dir, "part", 1L)
      .select("x").as[Long].collect().toSeq == Seq(1L))
    // wipe the table dir and recreate a DIFFERENT table at the same
    // path with the same version numbers — the dev/notebook flow the
    // path-keyed cache used to silently betray
    def rmrf(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).iterator().asScala.toSeq.foreach(rmrf)
      java.nio.file.Files.deleteIfExists(p)
    }
    rmrf(java.nio.file.Paths.get(dir))
    Snapshots.commit(spark, dir,
      Seq(("a", 42L), ("b", 43L)).toDF("part", "x"), "part")
    // the commit primes its own parse, but go further: force the
    // validation path by clearing nothing and reading v1 — the (len,
    // mtime) check must reject any stale entry and serve the NEW table
    val got = Snapshots.read(spark, dir, "part", 1L)
      .select("x").as[Long].collect().sorted.toSeq
    assert(got == Seq(42L, 43L), s"stale cached manifest served: $got")
    // and the explicit hatch drops entries for just this dir
    Snapshots.invalidateCaches(dir)
    assert(Snapshots.read(spark, dir, "part", 1L).count() == 2L)
  }

  test("commitIdempotentDetailed reports the replay no-op even when a second writer shifted the version") {
    val dir = tempTable()
    val app = "sinkD"
    val (v1, c1) = Snapshots.commitIdempotentDetailed(spark, dir,
      Seq(("a", 1L)).toDF("part", "x"), "part", app, batchId = 0L)
    assert(v1 == 1L && c1, "first batch must commit")
    // a SECOND writer lands a commit after the sink's batch — the
    // returned current version on replay will differ from the sink's
    // remembered lastV (the version-compare heuristic's blind spot)
    Snapshots.commit(spark, dir, Seq(("b", 9L)).toDF("part", "x"), "part")
    val (v2, c2) = Snapshots.commitIdempotentDetailed(spark, dir,
      Seq(("a", 777L)).toDF("part", "x"), "part", app, batchId = 0L)
    assert(!c2, "the replay must report committed = false")
    assert(v2 == 2L, "and return the table's CURRENT version")
    assert(Snapshots.read(spark, dir, "part")
      .select("x").as[Long].collect().toSeq == Seq(9L),
      "the replay must not have written anything — the table is still " +
        "the second writer's snapshot")
  }

  test("txn sink pattern: a crash-restart replay folds to exact totals (no loss, no double count)") {
    // the full restart discipline the streaming snapshot sink uses:
    // seed a null fold state from the table's last committed version,
    // fold the batch, commitIdempotent, and RESYNC from the table when
    // the commit no-ops (a replayed batch's rows were already in the
    // seeded state). Modeled driver-side with the exact same calls.
    val dir = tempTable()
    val app = "sink"
    def delta(n: Long) = Seq(("en", n)).toDF("lang", "n")
    def fold(state: Option[org.apache.spark.sql.DataFrame],
        d: org.apache.spark.sql.DataFrame) =
      state.map(_.unionByName(d).groupBy("lang").agg(sum("n").as("n")))
        .getOrElse(d)
    // incarnation 1: batches 0 and 1 commit, then CRASH (state lost)
    var state: Option[org.apache.spark.sql.DataFrame] = None
    var lastV = 0L
    Seq((0L, 1L), (1L, 2L)).foreach { case (b, n) =>
      val next = fold(state, delta(n))
      lastV = Snapshots.commitIdempotent(spark, dir, next, "lang", app, b)
      state = Some(next)
    }
    // incarnation 2: restart — state is NULL; seed from the table, then
    // the engine REPLAYS batch 1 before moving on to batch 2
    state = None
    lastV = Snapshots.currentVersion(spark, dir)
    state = Some(Snapshots.read(spark, dir, "lang", lastV).select("lang", "n"))
    Seq((1L, 2L), (2L, 4L)).foreach { case (b, n) =>
      val next = fold(state, delta(n))
      val v = Snapshots.commitIdempotent(spark, dir, next, "lang", app, b)
      if (v == lastV) // replay no-oped: resync (next double-counted it)
        state = Some(Snapshots.read(spark, dir, "lang", v).select("lang", "n"))
      else { lastV = v; state = Some(next) }
    }
    // exact totals: 1 + 2 + 4, batch 1 counted ONCE despite the replay
    val fin = Snapshots.read(spark, dir, "lang", lastV)
      .select("n").as[Long].collect().toSeq
    assert(fin == Seq(7L), s"expected exactly-once fold 7, got $fin")
    assert(Snapshots.currentVersion(spark, dir) == 3L,
      "three genuine batches => three versions, the replay added none")
  }

  test("'__'-prefixed column names are refused at commit (reserved)") {
    val dir = tempTable()
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(spark, dir,
        Seq(("a", 1L, 2L)).toDF("part", "x", "__hit"), "part")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
    // ...so the DML paths' internal working columns can never collide
    // with table data (update's __hit, diffRows' __a/__b, optimize's
    // __graft_bin*)
  }

  test("commit timestamps are clamped monotone against the predecessor") {
    val dir = tempTable()
    Snapshots.commit(spark, dir, Seq(("a", 1L)).toDF("part", "x"), "part")
    // fabricate v2 with a FUTURE clock (a skewed writer): v3's recorded
    // ts must still land strictly above it, not at this JVM's wall-clock
    val m1 = manifestText(dir, 1L)
    val future = System.currentTimeMillis() + 86400000L
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.writeManifestAtomic(fs,
      new org.apache.hadoop.fs.Path(dir, "_manifests/v00000002.txt"),
      m1.split("\n").map { l =>
        if (l.startsWith("#meta\t")) s"#meta\tts=$future op=commit" else l
      }.mkString("\n"))
    val v3 = Snapshots.commitReplace(spark, dir,
      Seq(("a", 2L)).toDF("part", "x"), "part")
    val ts = Snapshots.history(spark, dir)
      .where(col("version") === v3).select("ts_millis")
      .as[Long].collect().head
    assert(ts == future + 1,
      s"v3 ts must clamp to skewed-predecessor+1, got $ts vs $future")
  }

  test("BuilderCommitPoint is gated on the connector's conditional-create capability") {
    import org.apache.hadoop.fs.{Path => HPath}
    val s3aTarget = new HPath("s3a://bucket/t/_manifests/v00000001.txt")
    def fsWithCap(cap: Boolean, forced: Boolean = false)
        : org.apache.hadoop.fs.FileSystem = {
      val fs = new org.apache.hadoop.fs.RawLocalFileSystem() {
        override def hasPathCapability(p: HPath, c: String): Boolean =
          cap && c == Snapshots.ConditionalCreateCapability
      }
      val conf = new org.apache.hadoop.conf.Configuration(false)
      if (forced) conf.setBoolean(Snapshots.ConditionalCreateOverride, true)
      fs.setConf(conf)
      fs
    }
    // stock S3A (no capability): overwrite(false) is a client-side
    // HEAD-then-PUT — NOT a store-side arbiter — so the builder point
    // must NOT be selected; the scheme falls back to the rename point
    assert(Snapshots.pointFor(fsWithCap(cap = false), s3aTarget)
      eq Snapshots.RenameCommitPoint)
    // a connector that advertises the capability gets the builder point
    assert(Snapshots.pointFor(fsWithCap(cap = true), s3aTarget)
      eq Snapshots.BuilderCommitPoint)
    // ...as does an explicit deployment assertion (GCS/OSS-style
    // connectors that predate the capability key)
    assert(Snapshots.pointFor(fsWithCap(cap = false, forced = true),
      s3aTarget) eq Snapshots.BuilderCommitPoint)
    // non-flat schemes are untouched by the gate
    assert(Snapshots.pointFor(fsWithCap(cap = true),
      new HPath("file:///t/_manifests/v1.txt"))
      eq Snapshots.LinkCommitPoint)
    assert(Snapshots.pointFor(fsWithCap(cap = true),
      new HPath("hdfs://nn/t/_manifests/v1.txt"))
      eq Snapshots.RenameCommitPoint)
  }

  test("append refuses a source column the table lacks (two-sided schema check)") {
    val dir = tempTable()
    Snapshots.commit(spark, dir, Seq(("a", 1L)).toDF("part", "x"), "part")
    val e = intercept[IllegalArgumentException] {
      Snapshots.append(spark, dir,
        Seq(("a", 2L, "oops")).toDF("part", "x", "misspelled"), "part")
    }
    assert(e.getMessage.contains("misspelled"), e.getMessage)
    // the exact-schema append still lands
    assert(Snapshots.append(spark, dir,
      Seq(("a", 2L)).toDF("part", "x"), "part") == 2L)
  }

  test("a manifest demanding a future reader version fails with a pointed upgrade error") {
    val dir = tempTable()
    Snapshots.commit(spark, dir, Seq(("a", 1L)).toDF("part", "x"), "part")
    // a DV-free table stamps no minReader: old readers stay compatible
    assert(!manifestText(dir, 1L).contains("minReader="))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.writeManifestAtomic(fs,
      new org.apache.hadoop.fs.Path(dir, "_manifests/v00000002.txt"),
      manifestText(dir, 1L).split("\n").map { l =>
        if (l.startsWith("#meta\t")) l + " minReader=99" else l
      }.mkString("\n"))
    Snapshots.invalidateCaches(dir)
    val e = intercept[IllegalStateException] {
      Snapshots.read(spark, dir, "part", 2L).count()
    }
    assert(e.getMessage.contains("reader version 99"), e.getMessage)
    assert(e.getMessage.contains("upgrade"), e.getMessage)
    // the pre-upgrade version still reads
    assert(Snapshots.read(spark, dir, "part", 1L).count() == 1L)
  }
}
