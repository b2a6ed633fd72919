package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** `Snapshots.merge` evaluates its keyed delta once: the key spans that
  * pick the files to rewrite and the rows it writes come from one
  * evaluation, also across an optimistic-concurrency retry. The delta
  * here draws a different key each time it is evaluated. */
class MergeDeltaSpec extends SparkSpec {
  import spark.implicits._

  /** one partition, keys 1..100 in 4 key-disjoint files with recorded
    * key bounds: a delta key picks exactly one file to rewrite */
  private def clustered(): String = {
    val dir = tempDir("graft_merge_delta")
    Snapshots.commit(spark, dir,
      (1 to 100).map(i => ("a", i.toLong, s"p$i")).toDF("part", "x", "payload")
        .repartitionByRange(4, col("x")), "part", statsColumns = Seq("x"))
    dir
  }

  /** an upsert of one row whose key is drawn anew on each evaluation */
  private def drawnDelta() = {
    val draw = udf(() => MergeDeltaSpec.draw()).asNondeterministic()
    spark.range(1).select(draw().as("x"), lit("new").as("payload"),
      lit("U").as("op"), lit("a").as("part"))
  }

  /** the table must stay key-unique with exactly the one upserted row */
  private def assertOneUpsert(dir: String): Unit = {
    val rows = Snapshots.read(spark, dir, "part")
      .select("x", "payload").as[(Long, String)].collect()
    val dups = rows.groupBy(_._1).collect { case (k, rs) if rs.length > 1 => k }
    assert(dups.isEmpty, s"keys held twice: ${dups.mkString(", ")}")
    assert(rows.length == 100)
    assert(rows.count(_._2 == "new") == 1)
  }

  /** ids of the RDDs holding blocks in the block manager */
  private def cachedRdds(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("merge writes the rows of the evaluation its rewrite set was planned from") {
    val dir = clustered()
    MergeDeltaSpec.reset(racer = None)
    val cached = cachedRdds()
    Snapshots.merge(spark, dir, "part", "x", drawnDelta())
    assertOneUpsert(dir)
    assert(MergeDeltaSpec.draws.get == 1)
    // the pinned delta's blocks are released (asynchronously) once the
    // merge returns
    val deadline = System.nanoTime + 10000000000L
    while (cachedRdds() != cached && System.nanoTime < deadline) Thread.sleep(50)
    assert(cachedRdds() == cached)
  }

  test("an OCC retry reuses the delta's one evaluation") {
    val dir = clustered()
    val manifests = java.nio.file.Paths.get(dir, "_manifests")
    // the first draw lands a racer's version 2 (a copy of version 1),
    // so the merge's first commit, pinned to version 1, loses its rename
    MergeDeltaSpec.reset(racer = Some(
      (manifests.resolve("v00000001.txt"), manifests.resolve("v00000002.txt"))))
    assert(Snapshots.merge(spark, dir, "part", "x", drawnDelta()) == 3L)
    assertOneUpsert(dir)
    assert(MergeDeltaSpec.draws.get == 1)
  }

  test("a merge keeps its delta's one-partition layout only for a rewrite set that fits one partition") {
    // keys 1..400 in 4 unclustered files: every file overlaps the delta's span
    val dir = tempDir("graft_merge_layout")
    Snapshots.commit(spark, dir,
      (1 to 400).map(i => ("a", i.toLong, s"p$i")).toDF("part", "x", "payload")
        .repartition(4), "part", statsColumns = Seq("x"))
    // three keys through a shuffle that AQE coalesces into one partition
    def upsert(payload: String): String = {
      val delta = Seq(5L, 205L, 395L).toDF("x").groupBy("x").count()
        .select(col("x"), lit(payload).as("payload"), lit("U").as("op"),
          lit("a").as("part"))
      val joins = plansDuring(Snapshots.merge(spark, dir, "part", "x", delta))
        .filter(_.contains("Join type: FullOuter"))
      assert(joins.size == 1, joins.mkString("\n"))
      joins.head
    }
    val exchanges = """Arguments: hashpartitioning\(x#\d+L?, (\d+)\), ENSURE_REQUIREMENTS""".r
    // the 4 files fit the default 64 MB advisory partition: the pinned
    // delta is declared hashed into one, and only the files are shuffled
    val fits = upsert("u1")
    assert(exchanges.findAllMatchIn(fits).map(_.group(1)).toList == List("1"), fits)
    // they do not fit a 1 KB one: both sides are shuffled, as for a
    // delta that was never pinned, and AQE sizes the join
    val spills = withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      upsert("u2")
    }
    assert(exchanges.findAllMatchIn(spills).size == 2, spills)
    assert(!spills.contains("ExistingRDD, hashpartitioning"), spills)
    val rows = Snapshots.read(spark, dir, "part").select("x", "payload")
      .as[(Long, String)].collect()
    assert(rows.length == 400 && rows.map(_._1).distinct.length == 400)
    assert(rows.filter(_._2 == "u2").map(_._1).sorted.toList == List(5L, 205L, 395L))
  }
}

object MergeDeltaSpec {
  val draws = new java.util.concurrent.atomic.AtomicInteger
  @volatile private var racer: Option[(java.nio.file.Path, java.nio.file.Path)] = None

  def reset(racer: Option[(java.nio.file.Path, java.nio.file.Path)]): Unit = {
    draws.set(0)
    this.racer = racer
  }

  /** keys 10 and 90 in turn: they sit in different files */
  def draw(): Long = {
    val n = draws.getAndIncrement()
    if (n == 0) racer.foreach { case (from, to) => java.nio.file.Files.copy(from, to) }
    if (n % 2 == 0) 10L else 90L
  }
}
