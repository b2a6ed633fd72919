// metadata-cost measurement for the snapshot format's file-grain read
// path — run via: sbt "runMain graft.tools.MetaBench"; numbers recorded
// in BASELINE.md (the long-history / big-manifest bounds section)
package graft.tools

import org.apache.spark.sql.functions._

/** Measures the driver-side costs that bound big manifests:
  *
  *  1. the r15 shape — a 10^4-entry INLINE manifest (200 partitions x
  *     50 files): parse, plan construction, two executed pruned reads;
  *  2. the r16 manifest-list shape — 10^5 and 10^6 entries packed into
  *     4096-row SEGMENT files: COLD parse (first touch pays the full
  *     entry parse), WARM parse (immutable segments served from the
  *     JVM-wide cache — the steady-state read), plan construction, and
  *     manifest-level-pruned plan (readPartitions: O(selected) index);
  *  3. the WRITE-amplification contrast the segments exist for: a
  *     one-partition commitReplace against a 10^5-file table writes an
  *     O(touched + segments)-line manifest under the segmented layout
  *     vs an O(files)-line manifest inline — wall time and line counts
  *     printed side by side.
  *
  * Fabricated entries point at one real committed file for the
  * partition the pruned reads touch (data IO constant), and at unique
  * synthetic paths elsewhere (so carry/pack logic sees the real
  * path-identity shape). */
object MetaBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    import graft.sources.Snapshots

    def timeMs[A](reps: Int)(body: => A): Double = {
      body // warm
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => body)
      (System.nanoTime() - t0) / 1e6 / reps
    }
    def timeOnceMs[A](body: => A): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e6
    }

    // ---- shared seed: one real committed file to point entries at ----
    def seedTable(): (String, Snapshots.Entry, String) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_metabench").toString
      Snapshots.commit(spark, dir, {
        import spark.implicits._
        (1 to 100).map(i => ("p000", i.toLong)).toDF("part", "x")
      }, "part", statsColumns = Seq("x"))
      val m1 = Snapshots.readManifest(spark, dir, 1L)
      (dir, m1.entries.head, m1.schema.get.json)
    }

    def fs(dir: String) = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def entryLine(part: String, path: String, bytes: Long, lo: Long) =
      s"$part\t$path\t$bytes\t2\tx=$lo,${lo + 99}"

    // ---- scenario 1: the r15 inline 10^4 numbers (continuity) ----
    locally {
      val (dir, real, schemaJson) = seedTable()
      val parts = 200; val filesPerPart = 50
      val lines = (0 until parts).flatMap { p =>
        (0 until filesPerPart).map { f =>
          entryLine(f"p$p%03d", real.path, real.bytes,
            (p * filesPerPart + f) * 100L)
        }
      }
      Snapshots.writeManifestAtomic(fs(dir),
        new org.apache.hadoop.fs.Path(dir, "_manifests/v00000002.txt"),
        (Seq("#schema\t" + schemaJson, "#meta\tts=1 op=commit") ++ lines)
          .mkString("\n"))
      val parseMs = timeMs(20)(Snapshots.readManifest(spark, dir, 2L))
      val planMs = timeMs(20)(
        Snapshots.read(spark, dir, "part", 2L).queryExecution.sparkPlan)
      val partPruneMs = timeMs(5)(
        Snapshots.read(spark, dir, "part", 2L)
          .filter(col("part") === "p007").count())
      val boundsPruneMs = timeMs(5)(
        Snapshots.read(spark, dir, "part", 2L)
          .filter(col("part") === "p007" &&
            col("x").between(35100L, 35150L)).count())
      println(f"[metabench] entries=${parts * filesPerPart} " +
        f"parse=$parseMs%.1fms plan=$planMs%.1fms " +
        f"partPrunedCount=$partPruneMs%.1fms " +
        f"partAndBoundsPrunedCount=$boundsPruneMs%.1fms")
    }

    // ---- scenario 2: segmented manifests at 10^5 and 10^6 entries ----
    def buildSegmented(nEntries: Int): String = {
      val (dir, real, schemaJson) = seedTable()
      val filesPerPart = 100
      val parts = nEntries / filesPerPart
      val segRows = 4096
      val f = fs(dir)
      val segRefs = (0 until nEntries).map { i =>
        val p = i / filesPerPart
        // p007 gets the real file (pruned executed reads touch only it);
        // everything else a unique synthetic path, the real cardinality
        val path = if (p == 7) real.path
          else s"$dir/data/v00000002_fake/part=p$p/f$i.parquet"
        entryLine(f"p$p%03d", path, real.bytes, i * 100L)
      }.grouped(segRows).zipWithIndex.map { case (chunk, ci) =>
        val name = f"seg_v00000002_fab$ci%05d.txt"
        val sp = new org.apache.hadoop.fs.Path(dir, s"_manifests/segs/$name")
        f.mkdirs(sp.getParent)
        val out = f.create(sp, true)
        try out.write(chunk.mkString("\n").getBytes("UTF-8"))
        finally out.close()
        val vals = chunk.map(_.split("\t")(0))
        val bytes = chunk.map(_.split("\t")(2).toLong).sum
        s"#seg\t$name\t${chunk.size}\t$bytes\t${vals.min}\t${vals.max}"
      }.toSeq
      Snapshots.writeManifestAtomic(f,
        new org.apache.hadoop.fs.Path(dir, "_manifests/v00000002.txt"),
        (Seq("#schema\t" + schemaJson, "#meta\tts=1 op=commit",
          s"#stats\tparts=$parts files=$nEntries bytes=${real.bytes * nEntries}")
          ++ segRefs).mkString("\n"))
      dir
    }

    Seq(100000, 1000000).foreach { n =>
      val dir = buildSegmented(n)
      // the fabricating write primed the manifest/segment caches — drop
      // them so "cold" genuinely measures the from-disk parse (warm then
      // measures the steady-state cached path a reader JVM actually sees)
      Snapshots.clearMetadataCaches()
      val coldMs = timeOnceMs(Snapshots.readManifest(spark, dir, 2L))
      val warmMs = timeMs(10)(Snapshots.readManifest(spark, dir, 2L))
      val planMs = timeMs(5)(
        Snapshots.read(spark, dir, "part", 2L).queryExecution.sparkPlan)
      val prunedPlanMs = timeMs(10)(
        Snapshots.readPartitions(spark, dir, "part", Set("p007"), 2L)
          .queryExecution.sparkPlan)
      val prunedCountMs = timeMs(5)(
        Snapshots.readPartitions(spark, dir, "part", Set("p007"), 2L)
          .filter(col("x").between(70000L, 70500L)).count())
      println(f"[metabench-seg] entries=$n coldParse=$coldMs%.1fms " +
        f"warmParse=$warmMs%.1fms plan=$planMs%.1fms " +
        f"manifestPrunedPlan=$prunedPlanMs%.1fms " +
        f"manifestPrunedCount=$prunedCountMs%.1fms")
    }

    // ---- scenario 3: incremental-commit metadata cost, seg vs inline ----
    def replaceCost(segmented: Boolean): (Double, Int) = {
      val n = 100000
      spark.conf.set("spark.graft.snapshot.segmentRows",
        if (segmented) "4096" else "100000000")
      val dir =
        if (segmented) buildSegmented(n)
        else {
          val (d, real, schemaJson) = seedTable()
          val lines = (0 until n).map { i =>
            val p = i / 100
            val path = if (p == 7) real.path
              else s"$d/data/v00000002_fake/part=p$p/f$i.parquet"
            entryLine(f"p$p%03d", path, real.bytes, i * 100L)
          }
          Snapshots.writeManifestAtomic(fs(d),
            new org.apache.hadoop.fs.Path(d, "_manifests/v00000002.txt"),
            (Seq("#schema\t" + schemaJson, "#meta\tts=1 op=commit") ++ lines)
              .mkString("\n"))
          d
        }
      val wallMs = timeOnceMs {
        Snapshots.commitReplace(spark, dir, {
          import spark.implicits._
          Seq(("p000", 7L)).toDF("part", "x")
        }, "part")
      }
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f"$dir/_manifests/v00000003.txt")), "UTF-8")
      spark.conf.unset("spark.graft.snapshot.segmentRows")
      (wallMs, manifest.split("\n").length)
    }
    val (segWall, segLines) = replaceCost(segmented = true)
    val (inlWall, inlLines) = replaceCost(segmented = false)
    println(f"[metabench-commit] oneOf1000PartsReplaced@100kFiles " +
      f"segmented=$segWall%.0fms/$segLines%d-line-manifest " +
      f"inline=$inlWall%.0fms/$inlLines%d-line-manifest")

    // ---- scenario 4: wide-commit stats — writer-task collection vs the
    // driver footer pool (the r16 path, forced via the test seam). Same
    // data, same file count; the difference is WHERE the O(files) footer
    // reads run. On local disk the driver pool looks cheap — the point
    // of the row is the footer-read COUNT (a real object store pays a
    // round-trip per read, and tasks pay it in parallel cluster-wide
    // against page-cache-warm local files). ----
    locally {
      import spark.implicits._
      def wideCommit(driverPath: Boolean): (Double, Long, Int) = {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_metabench_stats").toString
        val df = (0 until 512000)
          .map(i => (f"p${i % 64}%03d", i.toLong, s"s$i%09d"))
          .toDF("part", "x", "s")
          .repartitionByRange(256, col("part"), col("x"))
        val before = Snapshots.driverFooterReads.get()
        Snapshots.taskStatsDisabled.set(driverPath)
        val wall =
          try timeOnceMs(Snapshots.commit(spark, dir, df, "part",
            statsColumns = Seq("x", "s")))
          finally Snapshots.taskStatsDisabled.set(false)
        val files = Snapshots.readManifest(spark, dir, 1L).entries.size
        (wall, Snapshots.driverFooterReads.get() - before, files)
      }
      wideCommit(driverPath = false) // JIT/codegen warm for both paths
      val (taskWall, taskReads, nFiles) = wideCommit(driverPath = false)
      val (drvWall, drvReads, _) = wideCommit(driverPath = true)
      println(f"[metabench-stats] wideCommit files=$nFiles " +
        f"taskSide=$taskWall%.0fms/$taskReads%d-driver-footer-reads " +
        f"driverPool=$drvWall%.0fms/$drvReads%d-driver-footer-reads")
    }

    // ---- scenario 5: the DV read ceiling — a heavily-masked table
    // scanned under both anti-join branches. The broadcast branch ships
    // the whole mask through the driver (fine small, the r17 ceiling at
    // 10^10 ordinals); above dvBroadcastThreshold the pairs stay
    // distributed (shuffled hash) — the row records each branch's wall
    // plus the broadcast-side bytes the driver carried, showing the
    // large-mask path's driver term bounded while read-backs agree. ----
    locally {
      import spark.implicits._
      spark.conf.set("spark.graft.snapshot.dvEnabled", "true")
      val dir = java.nio.file.Files
        .createTempDirectory("graft_metabench_dv").toString
      val df = (0L until 400000L).map(i => (f"p${i % 8}", i, i * 3L))
        .toDF("part", "k", "v").repartitionByRange(8, col("part"), col("k"))
      Snapshots.commit(spark, dir, df, "part", statsColumns = Seq("k"))
      // ~10% mask, accumulated over two DMLs (two sidecars)
      Snapshots.delete(spark, dir, "part", col("k") % 20L === 3L)
      Snapshots.delete(spark, dir, "part", col("k") % 20L === 11L)
      val v = Snapshots.currentVersion(spark, dir)
      def scanSum(): Long = Snapshots.read(spark, dir, "part", v)
        .agg(sum("v")).collect()(0).getLong(0)
      val sumB = scanSum() // warm + broadcast branch (default threshold)
      val wallBroadcast = timeMs(3)(scanSum())
      spark.conf.set("spark.graft.snapshot.dvBroadcastThreshold", "0")
      val (sumS, wallShuffle) =
        try (scanSum(), timeMs(3)(scanSum()))
        finally spark.conf.unset("spark.graft.snapshot.dvBroadcastThreshold")
      require(sumB == sumS, s"branch disagreement: $sumB vs $sumS")
      println(f"[metabench-dv] maskedRows=40000 " +
        f"broadcast=$wallBroadcast%.0fms shuffleHash=$wallShuffle%.0fms " +
        "readback=identical driverBytes(shuffle)=0")
      spark.conf.unset("spark.graft.snapshot.dvEnabled")
    }

    spark.stop()
  }
}
