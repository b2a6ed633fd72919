package graft

import graft.api.Graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** The community loops' convergence ledger (r12): once the loop reaches
  * a fixed point, the remaining fixed-`rounds` sweeps must be runtime
  * no-ops — the in-plan flag empties the sweep inputs and AQE's
  * empty-relation propagation collapses the edge-sized subtrees. Labels
  * must be bit-identical to the un-gated loop (the oracle replays every
  * sweep; a converged sweep's replay is the identity). */
class GraphConvergenceSpec extends SparkSpec {
  import spark.implicits._

  /** total shuffle records written while `body` runs (listener events
    * are async — poll until the bus has drained into our counter) */
  private def shuffleRecords(body: => Unit): Long = {
    val acc = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) acc.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // drain the async listener bus: stop polling once stable
      var last = -1L
      var same = 0
      while (same < 3) {
        Thread.sleep(200)
        val now = acc.get
        if (now == last) same += 1 else { same = 0; last = now }
      }
      acc.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // two disjoint 30-cliques, each seeded as its own community: already
  // optimal, so every sweep/round is a no-op and the ledger must freeze
  // the loop after the first rejections
  private def cliqueEdges = {
    val one = for (a <- 0 until 30; b <- a + 1 until 30) yield (a.toLong, b.toLong)
    val two = one.map { case (a, b) => (a + 100L, b + 100L) }
    (one ++ two).toDF("a", "b").localCheckpoint()
  }
  private def cliqueSeed =
    ((0L until 30L).map(v => (v, 0L)) ++ (100L until 130L).map(v => (v, 100L)))
      .toDF("v", "lbl").localCheckpoint()

  test("louvainMove: a converged graph's later sweeps are runtime no-ops") {
    val edges = cliqueEdges
    val seed = cliqueSeed
    var short: Array[(Long, Long)] = null
    var long: Array[(Long, Long)] = null
    val recShort = shuffleRecords {
      short = Graft.louvainMove(seed, edges, rounds = 2)
        .as[(Long, Long)].collect()
    }
    val recLong = shuffleRecords {
      long = Graft.louvainMove(seed, edges, rounds = 12)
        .as[(Long, Long)].collect()
    }
    // hashes unchanged: the gated loop lands exactly the seed labels
    assert(short.sorted.sameElements(seed.as[(Long, Long)].collect().sorted))
    assert(long.sorted.sameElements(short.sorted))
    // the 10 extra sweeps must cost ~nothing: sweeps 1-2 are rejected
    // (stall reaches 2), so sweeps 3-12 run on EMPTY inputs. Without
    // the ledger 12 rounds write ~6x the shuffle records of 2.
    assert(recLong < recShort * 2,
      s"extra sweeps still shuffle: rounds=2 wrote $recShort, rounds=12 wrote $recLong")
  }

  test("communityMerge: a merge-free graph's later rounds are runtime no-ops") {
    val edges = cliqueEdges
    val seed = cliqueSeed
    var short: Array[(Long, Long)] = null
    var long: Array[(Long, Long)] = null
    val recShort = shuffleRecords {
      short = Graft.communityMerge(seed, edges, rounds = 2)
        .as[(Long, Long)].collect()
    }
    val recLong = shuffleRecords {
      long = Graft.communityMerge(seed, edges, rounds = 12)
        .as[(Long, Long)].collect()
    }
    // the cliques are disconnected: no inter-community edge, no merge
    assert(short.sorted.sameElements(seed.as[(Long, Long)].collect().sorted))
    assert(long.sorted.sameElements(short.sorted))
    // round 1 selects zero merges => converged; rounds 2-12 run empty
    assert(recLong < recShort * 2,
      s"extra rounds still shuffle: rounds=2 wrote $recShort, rounds=12 wrote $recLong")
  }

  test("property: on random graphs (n = 10..10^3) ledger-break implies label fixpoint") {
    // the two-stall Louvain proof must survive refactors of the gate
    // plumbing on graphs with no planted structure: for a deterministic
    // random family, once the ledger has frozen the loop, ONE EXTRA
    // ROUND is the identity — labels(R) == labels(R+1), exactly the
    // fixpoint the ledger claims. Seeds are fixed, so this is a stable
    // property, not a flake: any future gate change that breaks the
    // loop too early (labels still moving) or fails to freeze it
    // (nondeterministic tie handling drifting between R and R+1 on a
    // converged input) lands here.
    for (n <- Seq(10, 100, 1000)) {
      val rnd = new scala.util.Random(7 * n + 1)
      val m = 3 * n
      val edges = (0 until m).map { _ =>
        val a = rnd.nextInt(n); var b = rnd.nextInt(n)
        while (b == a) b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.distinct.toDF("a", "b").localCheckpoint()
      val seed = (0L until n.toLong).map(v => (v, v)).toDF("v", "lbl")
        .localCheckpoint()
      val r = Graft.louvainMove(seed, edges, rounds = 10)
        .as[(Long, Long)].collect().sorted
      val r1 = Graft.louvainMove(seed, edges, rounds = 11)
        .as[(Long, Long)].collect().sorted
      assert(r.sameElements(r1),
        s"n=$n: labels changed between rounds 10 and 11 — ledger broke " +
          "before the fixpoint (or failed to freeze a converged loop)")
    }
  }

  test("the ledger never fires early: an improvable graph still converges to the gated result") {
    // a pendant chain hanging off one clique: moves DO fire in early
    // sweeps; long and short runs must agree once both have converged
    val extra = Seq((29L, 200L), (200L, 201L), (201L, 202L))
      .toDF("a", "b")
    val edges = cliqueEdges.unionByName(extra)
    val seed = cliqueSeed.unionByName(
      Seq((200L, 200L), (201L, 201L), (202L, 202L)).toDF("v", "lbl"))
    val a = Graft.louvainMove(seed, edges, rounds = 6).as[(Long, Long)].collect()
    val b = Graft.louvainMove(seed, edges, rounds = 12).as[(Long, Long)].collect()
    assert(a.sorted.sameElements(b.sorted),
      "once converged, more rounds must not change labels")
    // and the pendant nodes must actually have moved somewhere non-seed
    val moved = a.toMap
    assert(Seq(200L, 201L, 202L).exists(v => moved(v) != v),
      "fixture must exercise real moves before converging")
  }

  test("a merely persisted labels frame is not a checkpoint: it still gets the fence") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.storage.StorageLevel
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 2L), (10L, 11L))
      .toDF("a", "b")
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (10L, 10L),
      (11L, 11L)).toDF("v", "lbl")
    // a lazy localCheckpoint is a bare LogicalRDD over a PERSISTED rdd
    // that is not checkpointed yet: its blocks can still be evicted and
    // recomputed
    val persisted = labels.localCheckpoint(eager = false)
    val rdd = persisted.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    assert(rdd.getStorageLevel != StorageLevel.NONE && !rdd.isCheckpointed)
    assert(!Bridge.isCheckpointedRdd(persisted))
    val checkpointed = labels.localCheckpoint()
    assert(Bridge.isCheckpointedRdd(checkpointed))
    // the fence is a materializing job the checkpointed frame skips
    assert(jobsDuring(Graft.modularity(persisted, edges))
      > jobsDuring(Graft.modularity(checkpointed, edges)))
    assert(Graft.modularity(persisted, edges).collect().toSet
      == Graft.modularity(checkpointed, edges).collect().toSet)
  }
}
