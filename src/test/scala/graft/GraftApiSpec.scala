package graft

import graft.api.Graft
import org.apache.spark.sql.functions._

/** The library facade on NON-fixture data: column parameters and
  * semantics hold for arbitrary schemas, not just the driver tables. */
class GraftApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (10L, "the quick brown fox jumps over the lazy dog", "a"),
    (11L, "the quick brown fox jumps over the lazy dog", "a"), // exact dup
    (12L, "the quick brown fox leaps over the lazy dog", "b"), // near dup
    (13L, "entirely different content with no overlap here", "b"),
    (14L, "spam spam spam spam spam ham", "c")
  ).toDF("id", "body", "cls")

  test("fdCheck separates a held dependency from a violated one") {
    val df = Seq(
      (1L, "x", "p"), (1L, "x", "q"), // a=1 -> b=x (held); c varies
      (2L, "y", "p"), (2L, "y", "p"),
      (3L, "x", "r"), (3L, "z", "r")  // a=3 maps to two b values
    ).toDF("a", "b", "c")
    val rows = Graft.fdCheck(df, Seq(("a", "b"), ("a", "c"), ("b", "a")))
      .collect().map(r => r.getAs[String]("fd") ->
        (r.getAs[Boolean]("holds"), r.getAs[Long]("n_violating_lhs"))).toMap
    assert(rows("a->b") == ((false, 1L))) // only a=3 violates
    assert(rows("a->c") == ((false, 1L))) // a=1 maps to c=p and c=q
    assert(rows("b->a") == ((false, 1L))) // b=x maps to a=1 and a=3
    val held = Graft.fdCheck(df.filter(col("a") =!= 3L), Seq(("a", "b")))
      .collect().head
    assert(held.getAs[Boolean]("holds") && held.getAs[Long]("n_lhs") == 2L)
  }

  test("bloom index: candidates always cover the true chunks") {
    val data = (0L until 400L).map(i => (i / 50L, i % 97L)).toDF("chunk", "key")
    val idx = Graft.bloomChunkIndex(data, col("chunk"), col("key"))
    val probes = Seq(3L, 96L, 500L).toDF("pk") // 500 occurs nowhere
    val cand = Graft.bloomCandidates(idx, probes)
      .collect().map(r => (r.getAs[Long]("pk"), r.getAs[Long]("chunk"))).toSet
    val truth = data.as[(Long, Long)].collect()
      .filter(t => Set(3L, 96L, 500L)(t._2)).map(t => (t._2, t._1)).toSet
    assert(truth.subsetOf(cand), "bloom missed a true (key, chunk) pair")
    // and the absent key yields candidates only by (rare) false positives
    assert(truth.nonEmpty)
  }

  test("bloom probe derives its geometry FROM the index — no parameter to mismatch") {
    // A deliberately non-default geometry: a probe run under the old
    // default (16, 3) would hash into the wrong words and silently drop
    // true chunks; deriving (bf_words, bf_k) from the index itself must
    // keep the zero-false-negative contract at ANY geometry.
    val data = (0L until 400L).map(i => (i / 50L, i % 97L)).toDF("chunk", "key")
    val idx = Graft.bloomChunkIndex(data, col("chunk"), col("key"),
      words = 4, k = 5)
    assert(idx.select("bf_words", "bf_k").distinct().as[(Int, Int)]
      .collect().toSeq == Seq((4, 5)))
    val probes = Seq(3L, 96L, 11L).toDF("pk")
    val cand = Graft.bloomCandidates(idx, probes)
      .collect().map(r => (r.getAs[Long]("pk"), r.getAs[Long]("chunk"))).toSet
    val truth = data.as[(Long, Long)].collect()
      .filter(t => Set(3L, 96L, 11L)(t._2)).map(t => (t._2, t._1)).toSet
    assert(truth.subsetOf(cand),
      "geometry-derived probe missed a true (key, chunk) pair")
  }

  test("bloomCandidates fails loudly on a mixed-geometry index union") {
    // max() over a unioned mixed-geometry index would silently blend
    // parameters (the false-negative trap the derived geometry exists
    // to remove); the min==max assert must turn that into a loud error.
    val data = (0L until 100L).map(i => (i / 50L, i % 13L)).toDF("chunk", "key")
    val a = Graft.bloomChunkIndex(data, col("chunk"), col("key"), words = 16, k = 3)
    val b = Graft.bloomChunkIndex(data, col("chunk"), col("key"), words = 4, k = 5)
    val e = intercept[Exception](
      Graft.bloomCandidates(a.unionByName(b), Seq(3L).toDF("pk")).collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("mixes bloom geometries")), s"wrong failure: $msgs")
  }

  test("fdCheck refuses an empty candidate list loudly") {
    val df = Seq((1L, 1L)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](Graft.fdCheck(df, Seq.empty))
    assert(e.getMessage.contains("at least one"))
  }

  test("exactDedup groups byte-identical docs under min id") {
    val rows = Graft.exactDedup(corpus, "id", "body").collect()
    assert(rows.length == 4)
    val dup = rows.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 10L, "keep-first = min id")
  }

  test("minhashPairs finds the near-dup pair and verifies its jaccard") {
    val docs = Graft.shingleArrays(corpus, "id", "body")
    val pairs = Graft.minhashPairs(docs, threshold = 0.5)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 11L)), s"exact dup pair, got $pairs")
    pairs.foreach { case (i, j) => assert(i < j) }
  }

  test("containmentPairs finds the contained doc symmetric jaccard misses") {
    // B starts with A's full text plus 16 more tokens: containment
    // (A in B) is exactly 1.0 while their jaccard is ~0.16 — below any
    // sane near-dup threshold. doc 3 shares nothing and must not pair.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon one two three four five " +
        "six seven eight nine ten eleven twelve thirteen fourteen " +
        "fifteen sixteen"),
      (3L, "unrelated words entirely distinct from anything else")
    ).toDF("doc_id", "text")
    val sh = Graft.shingleSet(docs, "doc_id", "text")
      .withColumn("lang", lit("en")).select("doc_id", "lang", "shingle")
    val rows = Graft.containmentPairs(sh, threshold = 0.9).collect()
    assert(rows.length == 1, s"expected exactly the planted pair, got ${rows.toSeq}")
    val r = rows.head
    assert(r.getAs[Long]("small_id") == 1L && r.getAs[Long]("big_id") == 2L)
    assert(r.getAs[Double]("containment") == 1.0)
    val jac = r.getAs[Long]("inter").toDouble /
      (r.getAs[Long]("c_small") + r.getAs[Long]("c_big") - r.getAs[Long]("inter"))
    assert(jac < 0.5, s"pair must be invisible to the jaccard dedup, jac=$jac")
    // the stop-shingle recall tradeoff is the cap: with maxDf = 1 the
    // shared shingles (df = 2) leave the index and the pair escapes
    assert(Graft.containmentPairs(sh, threshold = 0.9, maxDf = 1L).count() == 0)
  }

  test("simhash sketch of identical docs is identical; pairs respect the bound") {
    val sk = Graft.simhashSketch(corpus, "id", "body")
      .as[(Long, Long)].collect().toMap
    assert(sk(10L) == sk(11L))
    val pairs = Graft.simhashPairs(Graft.simhashSketch(corpus, "id", "body"))
    pairs.collect().foreach(r => assert(r.getInt(2) <= 3))
    assertThrows[IllegalArgumentException] {
      Graft.simhashPairs(Graft.simhashSketch(corpus, "id", "body"), maxHamming = 6)
    }
  }

  test("decontaminate drops content matches against the eval set") {
    val eval_ = Seq((99L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "body")
    val kept = Graft.decontaminate(corpus, eval_, "id", "body")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L, 14L), s"10/11 are eval twins, got $kept")
  }

  test("merge applies inserts, updates, deletes; untouched rows pass through") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (2L, "b2", 25.0, "U"),
      (3L, null.asInstanceOf[String], 0.0, "D"),
      (9L, "new", 90.0, "I")
    ).toDF("k", "name", "bal", "op")
    val out = Graft.merge(base, changes, "k")
      .as[(Long, String, Double, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "a", 10.0, "="), (2L, "b2", 25.0, "U"), (9L, "new", 90.0, "I")))
  }

  test("merge propagates a NULL update payload (MERGE semantics, not coalesce)") {
    val base = Seq((1L, "a", 10.0)).toDF("k", "name", "bal")
    val changes = Seq((1L, null.asInstanceOf[String], 11.0, "U"))
      .toDF("k", "name", "bal", "op")
    val row = Graft.merge(base, changes, "k").collect().head
    assert(row.isNullAt(row.fieldIndex("name")),
      "an update whose payload is legitimately NULL must yield NULL, " +
        "not silently keep the base value")
    assert(row.getDouble(row.fieldIndex("bal")) == 11.0)
  }

  test("trainValTestSplit covers every row exactly once, deterministically") {
    val out = Graft.trainValTestSplit(corpus, "id")
    assert(out.count() == corpus.count())
    assert(out.select("split").distinct().as[String].collect()
      .forall(Set("train", "val", "test")))
    val twice = Graft.trainValTestSplit(corpus, "id")
      .select("id", "split").as[(Long, String)].collect().toSet
    assert(twice == out.select("id", "split").as[(Long, String)].collect().toSet)
  }

  test("stratifiedSample caps per class; systematicSample is a pure predicate") {
    val strat = Graft.stratifiedSample(corpus, "id", "cls", perClass = 1)
    assert(strat.groupBy("cls").count().collect().forall(_.getLong(1) == 1L))
    val sys1 = Graft.systematicSample(corpus, "id", rate = 2).count()
    assert(sys1 <= corpus.count())
  }

  test("tfidfTopTerms ranks a doc's distinguishing term first") {
    val top1 = Graft.tfidfTopTerms(corpus, "id", "body", k = 1)
      .filter(col("doc_id") === 14L).select("term").as[String].head()
    assert(top1 == "spam", s"tf=5 rare term should win, got $top1")
  }

  test("dedupClusters labels every node with its component minimum") {
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round) + pair 7-9
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L)).toDF("i", "j")
    val got = Graft.dedupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("chunkTokens covers the token stream exactly, in order") {
    val chunks = Graft.chunkTokens(corpus, "id", "body", chunkTokens = 3)
      .orderBy("doc_id", "chunk_no").collect()
    val rebuilt = chunks.groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getString(3)).mkString(" ")).toMap
    corpus.collect().foreach { r =>
      val want = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(rebuilt(r.getLong(0)) == want, s"doc ${r.getLong(0)}")
    }
    chunks.foreach(r => assert(r.getInt(2) >= 1 && r.getInt(2) <= 3))
  }

  test("ivfProbe probing every cell equals brute force") {
    val emb = sources.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label").as("cell"))
    val queries = emb.filter(col("id") < 3)
    val nCells = emb.select("cell").distinct().count().toInt
    val ivf = Graft.ivfProbe(emb, queries, k = 5, nprobe = nCells)
      .as[(Long, Long, Int)].collect().toSet
    val brute = Graft.knnBrute(
        emb.select("id", "vec"), queries.select("id", "vec"), k = 5)
      .as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute,
      s"ivf-only=${(ivf -- brute).take(3)} brute-only=${(brute -- ivf).take(3)}")
  }

  test("knnBrute returns k ranked neighbors per query") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("id", "vec")
    val nn = Graft.knnBrute(vecs, vecs.filter(col("id") === 0L), k = 2)
      .orderBy("rnk").select("n_id").as[Long].collect()
    assert(nn.sameElements(Array(1L, 2L)), nn.mkString(","))
  }

  test("triangleCounts handles K4, a diagonal square, and messy edge input") {
    // K4: every node sits in C(3,2) = 3 triangles. The input is
    // deliberately messy — reversed directions, duplicates, a self-loop.
    val k4 = Seq((0L, 1L), (1L, 0L), (0L, 2L), (0L, 3L), (1L, 2L),
      (3L, 1L), (2L, 3L), (2L, 2L), (0L, 1L)).toDF("a", "b")
    val got = Graft.triangleCounts(k4).as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L), got.toString)
    // square 0-1-2-3 with diagonal 0-2: triangles (0,1,2) and (0,2,3)
    val sq = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L)).toDF("a", "b")
    val got2 = Graft.triangleCounts(sq).as[(Long, Long)].collect().toMap
    assert(got2 == Map(0L -> 2L, 2L -> 2L, 1L -> 1L, 3L -> 1L), got2.toString)
  }

  test("funnel requires steps strictly in order") {
    // u1 completes all three in order; u2 clicks BEFORE its first view
    // (that click must not count) and never purchases -> reached 1;
    // u3 has click+purchase but no view -> reached 0; u4 views only.
    val ev = Seq(
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "purchase"),
      (2L, 1L, "click"), (2L, 2L, "view"), (2L, 3L, "signup"),
      (3L, 1L, "click"), (3L, 2L, "purchase"),
      (4L, 1L, "view")
    ).toDF("u", "seq", "etype")
    val got = Graft.funnel(ev, "u", "etype", Seq("view", "click", "purchase"),
        Seq(col("seq").asc))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 0, 4L -> 1), got.toString)
  }

  test("pagerankSeeded with every node seeded degenerates to uniform pagerank") {
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L))
      .toDF("src", "dst")
    val nodes = (0L to 3L).map(Tuple1(_)).toDF("v")
    val uni = Graft.pagerank(nodes, edges, 3, 1000000L)
      .as[(Long, Long)].collect().toMap
    val all = Graft.pagerankSeeded(nodes.withColumn("seed", lit(true)),
        edges, 3, 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(uni == all, s"uniform $uni vs all-seeded $all")
  }

  test("pagerank matches the hand-rolled fixed-point iteration on an arbitrary graph") {
    // 0 -> 1, 0 -> 2, 1 -> 2, 2 -> 0, 3 -> 2 (node 3 has no in-edges,
    // mixed out-degrees 1 and 2, so degree division and the
    // teleport-only path are both exercised).
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L))
    val nodes = (0L to 3L).map(Tuple1(_)).toDF("v")
    val scale = 1000000L
    val iters = 3
    // reference: same floor-division update rule, in plain Scala
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = (0L to 3L).map(_ -> scale).toMap
    (1 to iters).foreach { _ =>
      val inc = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = r.keys.map(v =>
        v -> (3 * scale / 20 + 17 * inc.getOrElse(v, 0L) / 20)).toMap
    }
    val got = Graft.pagerank(nodes, edges.toDF("src", "dst"), iters, scale)
      .as[(Long, Long)].collect().toMap
    assert(got == r, s"got $got expected $r")
  }

  test("scdApply keeps full lineage: chains close contiguously, one current row per live key") {
    val base0 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "nm", "bal")
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
    // v1: update key 1, delete key 2, insert key 9
    val chg1 = Seq((1L, "a2", 11.0, "U"), (2L, null.asInstanceOf[String], 0.0, "D"),
      (9L, "i", 90.0, "I")).toDF("id", "nm", "bal", "op")
    val v1 = Graft.scdApply(base0, chg1, "id", version = 1L)
    // v2: update key 1 again
    val chg2 = Seq((1L, "a3", 12.0, "U")).toDF("id", "nm", "bal", "op")
    val v2 = Graft.scdApply(v1, chg2, "id", version = 2L)
    val rows = v2.select("id", "nm", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect()
    // one current row per live key; deleted key 2 has none
    val current = rows.filter(_._5)
    assert(current.map(_._1).sorted.toSeq == Seq(1L, 3L, 9L), current.toSeq.toString)
    assert(current.find(_._1 == 1L).get._2 == "a3")
    // key 1's lineage: three versions, contiguous validity, all names kept
    val k1 = rows.filter(_._1 == 1L).sortBy(_._3)
    assert(k1.map(_._2).toSeq == Seq("a", "a2", "a3"))
    assert(k1.map(r => (r._3, r._4)).toSeq ==
      Seq((0L, Some(1L)), (1L, Some(2L)), (2L, None)))
    // deleted key 2: closed at v1, no successor
    val k2 = rows.filter(_._1 == 2L)
    assert(k2.toSeq == Seq((2L, "b", 0L, Some(1L), false)))
    // every row: current iff open-ended
    rows.foreach(r => assert(r._5 == r._4.isEmpty, r.toString))
  }

  test("temporalJoin routes each fact to the ONE version valid at its stamp; orphans keep NULL") {
    val base0 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "nm", "bal")
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
    val chg1 = Seq((1L, "a2", 11.0, "U"), (2L, null.asInstanceOf[String], 0.0, "D"),
      (9L, "i", 90.0, "I")).toDF("id", "nm", "bal", "op")
    val history = Graft.scdApply(base0, chg1, "id", version = 1L)
    // facts: key 1 at both epochs (routes to a then a2); key 2 after its
    // delete (orphan); key 9 before its insert (orphan) and after (i)
    val facts = Seq((100L, 1L, 0L), (101L, 1L, 1L), (102L, 2L, 1L),
      (103L, 9L, 0L), (104L, 9L, 1L)).toDF("fid", "key", "v")
    val rows = Graft.temporalJoin(facts, "key", "v",
        history.select("id", "nm", "valid_from", "valid_to"), "id")
      .select("fid", "nm").as[(Long, Option[String])].collect()
    // disjoint intervals => exactly one output ROW per fact (asserted on
    // the row array, BEFORE toMap can mask a duplicate), orphans included
    assert(rows.length == 5, rows.toSeq.toString)
    val got = rows.toMap
    assert(got == Map(100L -> Some("a"), 101L -> Some("a2"),
      102L -> None, 103L -> None, 104L -> Some("i")), got.toString)
  }

  test("temporalJoin drops the history key: same-named keys stay unambiguous") {
    val hist = Seq((1L, "a")).toDF("id", "nm")
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("long"))
    val facts = Seq((100L, 1L, 0L)).toDF("fid", "id", "v")
    val out = Graft.temporalJoin(facts, "id", "v", hist, "id")
    // exactly ONE `id` column survives (the fact's), so by-name selection
    // downstream cannot hit an ambiguous-reference error
    assert(out.columns.count(_ == "id") == 1)
    val row = out.select("fid", "id", "nm").as[(Long, Long, String)].collect()
    assert(row.toSeq == Seq((100L, 1L, "a")))
  }

  test("bfs computes exact hop distances on a known graph, bounded by maxDepth") {
    // chain 0->1->2->3->4 plus shortcut 0->3 and an unreachable node 9;
    // a back-edge 3->0 must not shorten anything (distances are final on
    // first discovery).
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L), (3L, 0L))
      .toDF("src", "dst")
    val nodes = (Seq(0L, 1L, 2L, 3L, 4L, 9L)).map(v => (v, v == 0L))
      .toDF("v", "seed")
    val got = Graft.bfs(nodes, edges, maxDepth = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L),
      s"got $got")
    // depth bound honored: maxDepth=1 discovers only seeds + direct succ
    val shallow = Graft.bfs(nodes, edges, maxDepth = 1)
      .as[(Long, Long)].collect().toMap
    assert(shallow == Map(0L -> 0L, 1L -> 1L, 3L -> 1L), s"got $shallow")
  }

  test("sssp relaxes distances that IMPROVE after discovery, within the round bound") {
    // 0->1 (w=10), 0->2 (w=1), 2->1 (w=1), 1->3 (w=1): node 1 is found at
    // cost 10 in round 1, then improves to 2 via node 2 — the min-fold
    // behavior BFS's first-touch finality cannot express.
    val edges = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 1L, 1L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val nodes = Seq(0L, 1L, 2L, 3L).map(v => (v, v == 0L)).toDF("v", "seed")
    val d3 = Graft.sssp(nodes, edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(d3 == Map(0L -> 0L, 1L -> 2L, 2L -> 1L, 3L -> 3L), s"got $d3")
    // at 2 rounds, only paths of <= 2 edges count: node 3 is reachable
    // solely via the expensive direct route 0->1->3
    val d2 = Graft.sssp(nodes, edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(d2 == Map(0L -> 0L, 1L -> 2L, 2L -> 1L, 3L -> 11L), s"got $d2")
  }

  test("louvainMove: Q never degrades, and strictly improves on the registry fixture") {
    // Monotonicity is a construction guarantee (the per-sweep accept
    // gate compares exact Q numerators); the registry fixture must
    // also show a STRICT improvement or the refinement is vacuous.
    val rows = q("q_graph_louvain")
      .select("q_num", "q_num_seed", "improved").distinct().collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Boolean]("improved"))
    assert(r.getAs[Long]("q_num") > r.getAs[Long]("q_num_seed"),
      s"no accepted move on the fixture: Q ${r.getAs[Long]("q_num")} vs seed ${r.getAs[Long]("q_num_seed")}")
  }

  test("multilevel pipeline: Q rises monotonically through move and merge phases") {
    // q_graph_multilevel chains labelProp -> louvainMove -> communityMerge
    // under one shared context; the move phase is gate-guaranteed and the
    // merge phase theorem-guaranteed, so BOTH verdicts must hold, and the
    // fixture must show strict improvement at each stage (else the
    // composite demonstrates nothing).
    val rows = q("q_graph_multilevel")
      .select("q_num", "q_num_moved", "q_num_seed",
        "improved_move", "improved_merge").distinct().collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Boolean]("improved_move") && r.getAs[Boolean]("improved_merge"))
    assert(r.getAs[Long]("q_num_moved") > r.getAs[Long]("q_num_seed"),
      "move phase made no progress on the fixture")
    assert(r.getAs[Long]("q_num") > r.getAs[Long]("q_num_moved"),
      "merge phase made no progress on the fixture")
  }

  test("louvainMove on a hand graph: the pendant joins its clique, Q strictly rises") {
    // seed deliberately misassigns: pendant 3 alone, clique {0,1,2}
    // labeled 0, pair {10,11} split — one sweep pair should fix the
    // odd-colored misassignments and never lower Q
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 2L), (10L, 11L))
      .toDF("a", "b")
    val seed = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (10L, 10L),
      (11L, 11L)).toDF("v", "lbl")
    def qOf(lab: org.apache.spark.sql.DataFrame): Long = {
      val out = Graft.modularity(lab, edges)
        .select("q_num").distinct().as[Long].collect()
      if (out.isEmpty) Long.MinValue else out.head
    }
    val refined = Graft.louvainMove(seed, edges, rounds = 2).localCheckpoint()
    val got = refined.as[(Long, Long)].collect().toMap
    assert(qOf(refined) >= qOf(seed), "accept gate must keep Q monotone")
    assert(got(3L) == 0L, s"pendant should join the clique community, got $got")
    assert(got(10L) == got(11L), s"the pair should merge, got $got")
  }

  test("communityMerge: mutual-best merges fire, disjoint components never mix, Q strictly rises") {
    // clique {0,1,2} mis-split as {0,1} + {2}; pair {10,11} split.
    // gains: merge({0,1},{2}) = 4m*2 - 2*4*2 = 16 > 0 (m=4),
    // merge({10},{11}) = 16 - 2 = 14 > 0; no cross-component pair has
    // an edge, so round 2 is a fixpoint.
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (10L, 11L)).toDF("a", "b")
    val seed = Seq((0L, 0L), (1L, 0L), (2L, 2L), (10L, 10L), (11L, 11L))
      .toDF("v", "lbl")
    val got = Graft.communityMerge(seed, edges, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 10L -> 10L, 11L -> 10L),
      s"got $got")
  }

  test("communityMerge on the registry fixture: Q strictly improves over the labelProp seed") {
    val rows = q("q_graph_cnm")
      .select("q_num", "q_num_seed", "improved").distinct().collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Boolean]("improved"))
    assert(rows.head.getAs[Long]("q_num") > rows.head.getAs[Long]("q_num_seed"))
  }

  test("labelProp: a clique absorbs its pendant, components never mix, isolated keeps its own") {
    // clique {0,1,2} + pendant 3-2; separate pair {10,11}; isolated 20
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 2L), (10L, 11L))
      .toDF("a", "b")
    val nodes = Seq(0L, 1L, 2L, 3L, 10L, 11L, 20L).toDF("v")
    val got = Graft.labelProp(nodes, edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    // round-by-round by hand: clique settles on min label 0 and pulls the
    // pendant in; the pair oscillates? no — (10,11): each adopts the
    // other's label every round (sole neighbor), so after 3 rounds
    // 10 has 11's r2 label (=10) and 11 has 10's r2 label (=11)... the
    // SYNCHRONOUS schedule makes the 2-cycle oscillate; what is pinned
    // here is determinism + no cross-component leakage, not convergence
    assert(Set(0L, 1L, 2L, 3L).map(got) == Set(0L),
      s"clique+pendant must land on label 0, got $got")
    assert(Set(10L, 11L).map(got).subsetOf(Set(10L, 11L)),
      "pair labels stay within the component")
    assert(got(20L) == 20L, "isolated node keeps its own label")
  }

  test("bfs multi-source: each node gets the distance to its NEAREST seed") {
    val edges = Seq((0L, 1L), (1L, 2L), (5L, 2L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 2L, 5L).map(v => (v, v == 0L || v == 5L))
      .toDF("v", "seed")
    val got = Graft.bfs(nodes, edges, maxDepth = 3)
      .as[(Long, Long)].collect().toMap
    // node 2 is 2 hops from seed 0 but 1 hop from seed 5
    assert(got == Map(0L -> 0L, 5L -> 0L, 1L -> 1L, 2L -> 1L), s"got $got")
  }

  test("kcenter: covers planted clusters, radii non-increasing, picks distinct") {
    // three tight direction-clusters; k = 3 must land one center in
    // EACH cluster (greedy farthest-point always crosses to the most
    // underserved cluster before refining within one)
    val base = Seq(
      Array(1f, 0f, 0f), Array(0.99f, 0.01f, 0f), Array(0.98f, 0.02f, 0f),
      Array(0f, 1f, 0f), Array(0.01f, 0.99f, 0f), Array(0f, 0.98f, 0.02f),
      Array(0f, 0f, 1f), Array(0f, 0.01f, 0.99f))
    val vecs = base.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
    val picks = Graft.kcenter(vecs, k = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .sortBy(_._1)
    assert(picks.map(_._2).distinct.length == 3, "centers must be distinct")
    val cluster = (id: Long) => id / 3 // 0-2, 3-5, 6-7
    assert(picks.map(p => cluster(p._2)).toSet.size == 3,
      s"one center per planted cluster, got ${picks.toSeq}")
    // the seed's radius is NULL; later radii never increase
    assert(picks.head._3.isNaN)
    val radii = picks.tail.map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"greedy radius sequence must be non-increasing: ${radii.toSeq}")
    // fixture query sanity: k distinct picks, dense pick numbers
    val fx = q("q_sample_kcenter").collect()
    assert(fx.map(_.getInt(0)).sorted.sameElements(1 to 8))
    assert(fx.map(_.getLong(1)).distinct.length == 8)
  }

  test("kcenterSampled: audited covering radius within factor of exact greedy") {
    // the large-k variant must stay a k-center: its AUDITED full-corpus
    // covering radius (computed by the function itself in one corpus
    // pass) lands within a small factor of exact greedy's — on the 500
    // near-orthogonal fixture vectors a blowup would mean the sample
    // missed whole regions, the failure mode the audit pass exists to
    // surface. Exact greedy is itself a 2-approximation of optimal, so
    // factor-2 over it bounds the sampled picks at 4x optimal.
    val vecs = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    def radius(centerIds: Seq[Long]): Double = {
      val cv = vecs.filter(col("id").isInCollection(centerIds))
        .select(col("vec").as("cvec"))
      vecs.crossJoin(broadcast(cv))
        .withColumn("cos", graft.functions.VectorFunctions.cosine(col("vec"), col("cvec")))
        .groupBy("id").agg((lit(1.0) - max(col("cos"))).as("d"))
        .agg(max(col("d"))).as[Double].head()
    }
    val exact = Graft.kcenter(vecs, k = 8).select("id").as[Long].collect()
    val exactR = radius(exact.toSeq)
    val sampled = Graft.kcenterSampled(vecs, k = 8).collect()
    assert(sampled.length == 8)
    assert(sampled.map(_.getLong(1)).distinct.length == 8, "picks distinct")
    val auditR = sampled.head.getDouble(3)
    // the audit column must BE the true covering radius of the picks
    val trueR = radius(sampled.map(_.getLong(1)).toSeq)
    assert(math.abs(auditR - trueR) < 1e-12, s"audit $auditR vs recomputed $trueR")
    assert(auditR <= 2.0 * exactR,
      s"sampled covering radius $auditR vs exact greedy $exactR")
  }
}
