package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Exact.h60
import graft.sources.Tables._

/** Graph analytics over the corpus — the iterative-algorithm family next
  * to connected components (operators.Dedup): PageRank, the canonical
  * MapReduce-era workload, in the engine's deterministic fixed-point
  * arithmetic (graft.api.Graft.pagerank).
  *
  * The fixture tables carry no edge list, so the query derives a
  * deterministic 4-regular link graph from the documents table itself:
  * doc i links to h60("pr:i:k") mod N for k in 1..4 (the same
  * inject-then-process precedent as q_text_pii_redact's PII and
  * q_text_urls' URLs — the oracle restates the derivation verbatim).
  * Every node has out-degree exactly 4, so no dangling-mass term is
  * needed; self-loops and parallel edges are legal PageRank inputs and
  * both occur.
  */
object Graph {

  /** Rank-update rounds replayed by the oracle. */
  private val PrIters = 5

  /** BFS depth bound replayed by the oracle. Declared BEFORE `defs`:
    * oracle strings are built eagerly at object init, and a val defined
    * after `defs` would interpolate as its uninitialized default. */
  private val BfsDepth = 4

  /** Fixed-point scale: ranks start at 10^12 per node — wide enough that
    * five rounds of floor division keep ~9 significant digits, small
    * enough that 17 * sum(contribs) stays far from BIGINT overflow. */
  private val PrScale = 1000000000000L

  /** k-core threshold and bounded peel rounds replayed by the oracle.
    * K=6 sits just above the derived graph's ~2*4 mean undirected degree
    * erosion point, so every peel round does real work (the sf0.01
    * survivor sequence is 500 -> 448 -> 418 -> 395 -> 380); 4 rounds
    * keeps the unrolled oracle cheap while leaving a nontrivial
    * survivor set at every sf. The run-to-fixpoint variant is
    * [[graft.api.Graft.kcore]] (property-pinned in GraftPropertySpec). */
  private val KcoreK = 6
  private val KcoreRounds = 4

  /** Label-propagation rounds replayed by the oracle (declared before
    * `defs` — the BfsDepth eager-init rule). */
  private val LpRounds = 3
  private val LvRounds = 2
  private val CnmRounds = 2

  /** Multi-level composite stage sizes: one move half-sweep, one merge
    * round — the canonical Louvain phase pair (move, then coarsen);
    * the standalone queries exercise the deeper chains. */
  private val MlLvRounds = 1
  private val MlCnmRounds = 1

  /** The derived link graph: one row per edge, doc `src` ->
    * h60("pr:src:k") mod N for k in 1..4, in columns named `src` and
    * `dst`; `weighted` adds q_graph_sssp's edge weight
    * w = h60("wt:src:k") mod 5 + 1. */
  private def derivedEdges(docs: DataFrame, src: String, dst: String,
      weighted: Boolean = false): DataFrame = {
    def slot(tag: String) = h60(concat(lit(tag), col(src).cast("string"),
      lit(":"), col("k").cast("string")))
    val n = docs.agg(count(lit(1)).as("n"))
    docs.crossJoin(broadcast(n))
      .select(col("doc_id").as(src),
        explode(sequence(lit(1), lit(4))).as("k"), col("n"))
      .select(Seq(col(src), (slot("pr:") % col("n")).as(dst)) ++
        (if (weighted) Seq((slot("wt:") % 5 + 1).as("w")) else Nil): _*)
  }

  val defs: Seq[QueryDef] = Seq(

    // PageRank over the derived link graph. Integer-exact: BIGINT ranks,
    // floor division everywhere (Spark `div` == DuckDB `//`), damping
    // 17/20 — any cluster and the oracle reproduce the ranks
    // bit-for-bit, with no float accumulation order to pin.
    QueryDef("q_graph_pagerank", pagerankOracle(PrIters, PrScale)) { (s, d) =>
      val docs = documents(s, d)
      val edges = derivedEdges(docs, "src", "dst")
      graft.api.Graft.pagerank(
          docs.select(col("doc_id").as("v")), edges, PrIters, PrScale)
        .select(col("v").as("doc_id"), col("rank"))
    },

    // Personalized PageRank: teleport mass concentrated on a seed set
    // (every 17th doc) — ranks measure proximity to the seeds, the
    // "similar pages / related documents" primitive. Same bit-exact
    // fixed-point loop; only the teleport/init vectors change.
    QueryDef("q_graph_pagerank_seeded",
      pagerankSeededOracle(PrIters, PrScale)) { (s, d) =>
      val docs = documents(s, d)
      val edges = derivedEdges(docs, "src", "dst")
      graft.api.Graft.pagerankSeeded(
          docs.select(col("doc_id").as("v"),
            (col("doc_id") % 17 === 0).as("seed")),
          edges, PrIters, PrScale)
        .select(col("v").as("doc_id"), col("rank"))
    },

    // Triangle counting over the same derived graph (undirected, self-
    // loops dropped) — per-node triangle memberships. Degree-ordered
    // orientation (each edge directed toward the higher (deg, id)) is
    // the classic MapReduce trick: it bounds every node's out-degree by
    // ~sqrt(m), so the wedge self-join on the center node can't blow up
    // on hubs. Each triangle is enumerated exactly once from its lowest-
    // ordered vertex; the closure check is a pure EQUI-join on the
    // canonical (least, greatest) edge key — no OR-condition join, no
    // nested loop. Integer counts, bit-exact oracle.
    QueryDef("q_graph_triangles", trianglesOracle) { (s, d) =>
      val docs = documents(s, d)
      val raw = derivedEdges(docs, "a", "b")
      graft.api.Graft.triangleCounts(raw)
    },

    // Multi-source BFS over the same derived graph: exact hop distance
    // from the nearest seed (every 17th doc, the pagerank_seeded seed
    // set), depth-bounded at 4. Level-synchronous frontier joins — each
    // round touches only the newly-discovered frontier's out-edges, and
    // the anti-join against the discovered set makes distances final on
    // first touch. The oracle walks the same graph with a depth-bounded
    // recursive CTE (UNION, so the frontier dedups per level) and takes
    // min(dist); hop counts are integers, so the replay is bit-exact.
    QueryDef("q_graph_bfs", bfsOracle(BfsDepth)) { (s, d) =>
      val docs = documents(s, d)
      val edges = derivedEdges(docs, "src", "dst")
      graft.api.Graft.bfs(
          docs.select(col("doc_id").as("v"),
            (col("doc_id") % 17 === 0).as("seed")),
          edges, BfsDepth)
        .select(col("v").as("doc_id"), col("dist"))
    },

    // Weighted single-source (multi-seed) shortest paths: bounded-round
    // Bellman-Ford over the derived graph with deterministic integer
    // edge weights 1..5 (h60 of the edge slot). Bounded at 4 relaxation
    // rounds == cheapest path using at most 4 edges; the oracle walks
    // the same graph in a recursive CTE carrying an explicit hop count
    // (UNION dedups (v, dist, hops) states per level) and min-folds.
    // Weighted distances can improve after discovery — the min-fold per
    // round is what distinguishes this from q_graph_bfs's anti-join
    // finality; both shapes cost one src equi-join + one dst aggregate
    // per round.
    QueryDef("q_graph_sssp", ssspOracle(BfsDepth)) { (s, d) =>
      val docs = documents(s, d)
      val edges = derivedEdges(docs, "src", "dst", weighted = true)
      graft.api.Graft.sssp(
          docs.select(col("doc_id").as("v"),
            (col("doc_id") % 17 === 0).as("seed")),
          edges, BfsDepth)
        .select(col("v").as("doc_id"), col("dist"))
    },

    // In-degree distribution of the derived graph: out-degree is 4 by
    // construction, so the in-degree histogram (≈ Poisson(4) for the
    // hash-target derivation, zeros included) is the structural summary
    // a graph pipeline checks before running traversals. The edge list
    // aggregates to per-target counts BEFORE the node join — map-side
    // combined, the join carries one short row per distinct target —
    // and isolated nodes enter via the left join's coalesce(0).
    QueryDef(
      "q_graph_degrees",
      """WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
        |e AS (SELECT doc_id AS src,
        |  ('0x' || substr(md5('pr:' || doc_id::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % n.n AS dst
        |  FROM documents, n, UNNEST([1, 2, 3, 4]) AS u(k)),
        |ind AS (SELECT d.doc_id, count(e.dst)::BIGINT AS in_deg
        |  FROM documents d LEFT JOIN e ON e.dst = d.doc_id GROUP BY d.doc_id)
        |SELECT in_deg, count(*)::BIGINT AS n_nodes FROM ind GROUP BY in_deg
        |""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val inCounts = derivedEdges(docs, "src", "dst")
        .groupBy("dst").agg(count(lit(1)).as("c"))
      docs.select(col("doc_id"))
        .join(inCounts, col("doc_id") === col("dst"), "left")
        .select(coalesce(col("c"), lit(0L)).as("in_deg"))
        .groupBy("in_deg").agg(count(lit(1)).as("n_nodes"))
    },

    // Bounded k-core peel over the derived graph (undirected, self-loops
    // dropped): 4 synchronous rounds of "drop nodes with < 6 still-alive
    // neighbors", survivors reported with their degree inside the
    // survivor set. The dense-subgraph primitive next to triangles: what
    // remains after peeling is the graph's cohesive interior (spam/bot
    // cluster detection, community cores). Work per round is two
    // semi-joins + one degree aggregate over the ever-shrinking live
    // edge set; integer degrees make the bounded replay bit-exact, and
    // the oracle unrolls the same 4 stages. Fixpoint variant:
    // Graft.kcore, property-pinned against a driver-side reference.
    QueryDef("q_graph_kcore", kcoreOracle(KcoreK, KcoreRounds)) { (s, d) =>
      val docs = documents(s, d)
      val raw = derivedEdges(docs, "a", "b")
      graft.api.Graft.kcorePeel(
          docs.select(col("doc_id").as("v")), raw, KcoreK, KcoreRounds)
        .select(col("v").as("doc_id"), col("core_deg"))
    },

    // Link prediction by neighborhood overlap — the "who should be
    // connected" graph-ML primitive: every NON-adjacent pair with >= 2
    // shared neighbors, scored by common-neighbor count and
    // neighborhood Jaccard. Candidates arise ONLY through a shared
    // neighbor (the wedge equi-join — sum-of-squared-degrees work,
    // never all pairs), existing edges drop by an anti-join, and the
    // Jaccard divides exact longs once. The oracle restates the wedge/
    // anti-join/degree pipeline over the same derived graph.
    QueryDef(
      "q_graph_linkpred",
      s"""WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
         |raw AS (SELECT doc_id AS a,
         |  ('0x' || substr(md5('pr:' || doc_id::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % n.n AS b
         |  FROM documents, n, UNNEST([1, 2, 3, 4]) AS u(k)),
         |umin AS MATERIALIZED (
         |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b),
         |nbr AS MATERIALIZED (
         |  SELECT a, b FROM umin UNION ALL SELECT b, a FROM umin),
         |deg AS (SELECT a AS v, count(*)::BIGINT AS deg FROM nbr GROUP BY 1),
         |w AS (
         |  SELECT x.b AS na, y.b AS nb, count(*)::BIGINT AS common
         |  FROM nbr x JOIN nbr y ON y.a = x.a AND x.b < y.b
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT na, nb, common FROM w
         |  WHERE common >= 2
         |    AND NOT EXISTS (SELECT 1 FROM umin e WHERE e.a = na AND e.b = nb))
         |SELECT na AS node_a, nb AS node_b, common,
         |  CAST(common AS DOUBLE) / (da.deg + db.deg - common) AS jaccard
         |FROM cand JOIN deg da ON da.v = na JOIN deg db ON db.v = nb
         |""".stripMargin) { (s, d) =>
      val docs = documents(s, d)
      val raw = derivedEdges(docs, "a", "b")
      graft.api.Graft.linkPredict(raw, minCommon = 2)
    },

    // Synchronous label propagation (community detection) over the same
    // derived graph: every node starts in its own community and adopts
    // its neighborhood's majority label each round (count desc, label
    // asc tie-break; isolated nodes keep their own). The synchronous
    // schedule + total tie-break make LPA — notoriously order-dependent
    // in its asynchronous form — exactly replayable: the oracle unrolls
    // the same rounds as count/argmax/left-join CTE stages. Per round:
    // one equi join of the checkpointed neighbor relation against the
    // node-sized label table + a node-partitioned argmax window — edge-
    // linear work, the CC/kcore iteration discipline.
    QueryDef("q_graph_labelprop", labelPropOracle(LpRounds)) { (s, d) =>
      val docs = documents(s, d)
      val raw = derivedEdges(docs, "a", "b")
      graft.api.Graft.labelProp(
          docs.select(col("doc_id").as("v")), raw, LpRounds)
        .select(col("v").as("doc_id"), col("lbl").as("community"))
    },

    // Newman modularity of the labelProp partition over the same
    // derived graph — community detection graduating from "here are
    // labels" to "and this is how good the cut is". Pure integer
    // emission (q_num/q_den, never a float Q — Q can be negative and
    // Spark's truncating div vs DuckDB's flooring // would diverge);
    // per->=2-member-community rows carry the global score by
    // broadcast. The oracle extends the labelprop CTE chain with the
    // same degree/intra-edge aggregates.
    QueryDef("q_graph_modularity", modularityOracle(LpRounds)) { (s, d) =>
      val docs = documents(s, d)
      val raw = derivedEdges(docs, "a", "b")
      // derive the undirected context ONCE; seed and score share it
      val ctx = graft.api.Graft.undCtx(raw)
      val labels = graft.api.Graft.labelPropCtx(
        docs.select(col("doc_id").as("v")), ctx, LpRounds)
      graft.api.Graft.modularityCtx(labels, ctx)
    },

    // One Louvain refinement level (r11) on the labelProp seed: two
    // color-interleaved half-sweeps of exact-integer best-gain moves,
    // each gated on the sweep's Q numerator strictly improving (the
    // accept gate — an in-plan 1-row broadcast — is what makes
    // Q(louvain) >= Q(seed) a construction guarantee rather than a
    // fixture accident; synchronous simultaneous moves alone cannot
    // promise monotone Q). All arithmetic rides q_graph_modularity's
    // BIGINT numerators over the common 4m^2 denominator, so the
    // oracle replays every sweep — candidate scores, tie-breaks,
    // accept gates — as materialized stages. Output: the modularity
    // report of the refined partition plus the seed's Q numerator and
    // the monotonicity verdict.
    QueryDef("q_graph_louvain", louvainOracle(LpRounds, LvRounds)) { (s, d) =>
      val docs = documents(s, d)
      val raw = derivedEdges(docs, "a", "b")
      // ONE undirected-context derivation feeds seed, refine, and both
      // modularity reports — the pipeline shape a 100 TB job uses
      // (undCtx materializes the canonical edge set itself, so `raw`
      // needs no checkpoint of its own — it is read exactly once)
      val ctx = graft.api.Graft.undCtx(raw)
      val seed = graft.api.Graft.labelPropCtx(
        docs.select(col("doc_id").as("v")), ctx, LpRounds)
      val refined = graft.api.Graft.louvainMoveCtx(seed, ctx, LvRounds)
      val seedQ = graft.api.Graft.qNumCtx(seed, ctx)
        .select(col("q_num").as("q_num_seed"))
      graft.api.Graft.modularityCtx(refined, ctx)
        .crossJoin(broadcast(seedQ))
        .withColumn("improved", col("q_num") >= col("q_num_seed"))
    },

    // Agglomerative (Clauset-Newman-Moore) community merging (r11) on
    // the labelProp seed — the other half of the multi-level
    // modularity pipeline beside q_graph_louvain's node moves: two
    // rounds of merging connected community PAIRS by the exact gain
    // 4m*e12 - 2*d1*d2 (BIGINT over the common 4m^2 denominator),
    // selected by deterministic mutual-best matching. Because the
    // selected merges are DISJOINT, the round's total gain is a sum
    // of positive pair gains — Q strictly increases whenever any
    // merge fires, a theorem needing no accept gate (the q_graph_
    // louvain gate exists precisely because simultaneous NODE moves
    // lack it). Output: the modularity report of the merged partition
    // plus the seed Q and the monotonicity verdict.
    QueryDef("q_graph_cnm", cnmOracle(LpRounds, CnmRounds)) { (s, d) =>
      val docs = documents(s, d)
      val raw = derivedEdges(docs, "a", "b")
      // shared undirected context, as in q_graph_louvain (raw is read
      // exactly once — by undCtx's own materialization)
      val ctx = graft.api.Graft.undCtx(raw)
      val seed = graft.api.Graft.labelPropCtx(
        docs.select(col("doc_id").as("v")), ctx, LpRounds)
      val merged = graft.api.Graft.communityMergeCtx(seed, ctx, CnmRounds)
      val seedQ = graft.api.Graft.qNumCtx(seed, ctx)
        .select(col("q_num").as("q_num_seed"))
      graft.api.Graft.modularityCtx(merged, ctx)
        .crossJoin(broadcast(seedQ))
        .withColumn("improved", col("q_num") >= col("q_num_seed"))
    },

    // THE multi-level modularity pipeline (r11): labelProp seed -> one
    // Louvain move half-sweep -> one CNM community merge, composed
    // under one hash gate — the standard multi-level algorithm's
    // (move, coarsen) phase pair, with every stage's exact-integer Q
    // carried to the output: improved_move is gate-guaranteed
    // (louvainMove accepts a sweep only when Q strictly improves),
    // improved_merge is theorem-guaranteed (disjoint positive-gain
    // merges). One derived undirected context feeds all five stages;
    // the oracle replays each phase with the SAME CTE generators its
    // standalone query uses, seeded into each other.
    QueryDef("q_graph_multilevel",
      multilevelOracle(LpRounds, MlLvRounds, MlCnmRounds)) { (s, d) =>
      val docs = documents(s, d)
      val raw = derivedEdges(docs, "a", "b")
      val ctx = graft.api.Graft.undCtx(raw)
      val seed = graft.api.Graft.labelPropCtx(
        docs.select(col("doc_id").as("v")), ctx, LpRounds)
      val moved = graft.api.Graft.louvainMoveCtx(seed, ctx, MlLvRounds)
      val merged = graft.api.Graft.communityMergeCtx(moved, ctx, MlCnmRounds)
      val seedQ = graft.api.Graft.qNumCtx(seed, ctx)
        .select(col("q_num").as("q_num_seed"))
      val movedQ = graft.api.Graft.qNumCtx(moved, ctx)
        .select(col("q_num").as("q_num_moved"))
      graft.api.Graft.modularityCtx(merged, ctx)
        .crossJoin(broadcast(seedQ))
        .crossJoin(broadcast(movedQ))
        .withColumn("improved_move", col("q_num_moved") >= col("q_num_seed"))
        .withColumn("improved_merge", col("q_num") >= col("q_num_moved"))
    }
  )

  /** DuckDB mirror of q_graph_labelprop: the same derived undirected
    * neighbor relation and `rounds` unrolled majority-vote stages —
    * count per (node, neighbor label), argmax under the (count desc,
    * label asc) tie-break, isolated nodes carried by the left join. */
  /** The label-propagation CTE chain (derived graph + `rounds` unrolled
    * majority-vote stages), shared by the labelprop and modularity
    * oracles — final labels live in `l{rounds}`. */
  private def lpCtes(rounds: Int): String = {
    val base =
      s"""n AS (SELECT count(*)::BIGINT AS n FROM documents),
         |raw AS (SELECT doc_id AS a,
         |  ('0x' || substr(md5('pr:' || doc_id::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % n.n AS b
         |  FROM documents, n, UNNEST([1, 2, 3, 4]) AS u(k)),
         |umin AS MATERIALIZED (
         |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b),
         |nbr AS MATERIALIZED (
         |  SELECT a, b FROM umin UNION ALL SELECT b, a FROM umin),
         |l0 AS MATERIALIZED (SELECT doc_id AS v, doc_id AS lbl FROM documents)""".stripMargin
    val stages = (0 until rounds).map { t =>
      s"""c$t AS (SELECT u.a AS v, l.lbl, count(*) AS c
         |  FROM nbr u JOIN l$t l ON l.v = u.b GROUP BY 1, 2),
         |m$t AS (SELECT v, lbl FROM (
         |  SELECT v, lbl, row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rn
         |  FROM c$t) WHERE rn = 1),
         |l${t + 1} AS MATERIALIZED (
         |  SELECT l.v, coalesce(m.lbl, l.lbl) AS lbl
         |  FROM l$t l LEFT JOIN m$t m ON m.v = l.v)""".stripMargin
    }
    (base +: stages).mkString(",\n")
  }

  private def labelPropOracle(rounds: Int): String =
    "WITH " + lpCtes(rounds) +
      s"\nSELECT v AS doc_id, lbl AS community FROM l$rounds\n"

  /** DuckDB mirror of q_graph_modularity: the labelprop chain, then the
    * exact-integer Newman score — q_num/q_den as two BIGINTs (no float
    * division; Q can be negative and truncate-vs-floor would diverge). */
  private def modularityOracle(rounds: Int): String =
    "WITH " + lpCtes(rounds) + s""",
      |lab AS MATERIALIZED (SELECT v, lbl FROM l$rounds),
      |deg AS (SELECT a AS v, count(*)::BIGINT AS d FROM nbr GROUP BY 1),
      |comm AS (
      |  SELECT l.lbl, count(*)::BIGINT AS n_members,
      |    sum(coalesce(deg.d, 0))::BIGINT AS deg_sum
      |  FROM lab l LEFT JOIN deg ON deg.v = l.v GROUP BY 1),
      |intra AS (
      |  SELECT la.lbl, count(*)::BIGINT AS e_intra
      |  FROM umin u JOIN lab la ON la.v = u.a JOIN lab lb ON lb.v = u.b
      |  WHERE la.lbl = lb.lbl GROUP BY 1),
      |mm AS (SELECT count(*)::BIGINT AS m FROM umin),
      |pc AS MATERIALIZED (
      |  SELECT c.lbl AS community, c.n_members,
      |    coalesce(i.e_intra, 0)::BIGINT AS e_intra, c.deg_sum
      |  FROM comm c LEFT JOIN intra i ON i.lbl = c.lbl),
      |tot AS (
      |  SELECT count(*)::BIGINT AS n_communities, max(mm.m) AS n_edges,
      |    sum(4 * mm.m * e_intra - deg_sum * deg_sum)::BIGINT AS q_num,
      |    (max(mm.m) * max(mm.m) * 4)::BIGINT AS q_den
      |  FROM pc, mm)
      |SELECT pc.community, pc.n_members, pc.e_intra, pc.deg_sum,
      |  tot.n_communities, tot.n_edges, tot.q_num, tot.q_den
      |FROM pc, tot WHERE pc.n_members >= 2
      |""".stripMargin

  /** DuckDB mirror of q_graph_louvain: the labelprop chain seeds
    * lou0, then each half-sweep unrolls as candidate-score / argmax /
    * proposal / Q-gate stages (all BIGINT numerators over 4m^2), and
    * the tail is the modularity report plus the seed Q. */
  /** Exact Q-numerator CTE over a (v, lbl) relation — shared by the
    * louvain and CNM oracles (expects `deg`, `umin`, `mm` in scope). */
  private def qcte(name: String, lab: String): String =
    s"""$name AS (
       |  SELECT sum(4 * mm.m * coalesce(i.e_intra, 0) - c.deg_sum * c.deg_sum)::BIGINT AS q
       |  FROM (SELECT l.lbl, sum(coalesce(d.deg, 0))::BIGINT AS deg_sum
       |        FROM $lab l LEFT JOIN deg d ON d.v = l.v GROUP BY 1) c
       |  LEFT JOIN (SELECT la.lbl, count(*)::BIGINT AS e_intra
       |             FROM umin u JOIN $lab la ON la.v = u.a JOIN $lab lb ON lb.v = u.b
       |             WHERE la.lbl = lb.lbl GROUP BY 1) i ON i.lbl = c.lbl, mm)""".stripMargin

  /** Shared degree/edge-count CTEs every modularity-family oracle reads
    * (a def, not a val — `defs` initializes first and a later val would
    * splice as null, the r11 ShardedCentsSketchSql trap). */
  private def DegMmCtes: String =
    """deg AS (SELECT a AS v, count(*)::BIGINT AS deg FROM nbr GROUP BY 1),
      |mm AS (SELECT count(*)::BIGINT AS m FROM umin)""".stripMargin

  /** Louvain half-sweep CTE chain lou0..lou$lvRounds seeded from any
    * label CTE — factored so q_graph_louvain and the multi-level
    * composite replay the identical sweep text. Requires `deg`, `mm`,
    * `nbr` in scope. */
  private def louvainSweepCtes(seed: String, lvRounds: Int): String = {
    val head = s"lou0 AS MATERIALIZED (SELECT v, lbl FROM $seed)"
    val sweeps = (0 until lvRounds).map { r =>
      val par = r % 2
      s"""tot$r AS (SELECT l.lbl AS nlbl, sum(coalesce(d.deg, 0))::BIGINT AS tot
         |  FROM lou$r l LEFT JOIN deg d ON d.v = l.v GROUP BY 1),
         |kvc$r AS (SELECT u.a AS v, l.lbl AS nlbl, count(*)::BIGINT AS k
         |  FROM nbr u JOIN lou$r l ON l.v = u.b WHERE u.a % 2 = $par GROUP BY 1, 2),
         |cnd$r AS (
         |  SELECT v, nlbl, k FROM kvc$r
         |  UNION ALL
         |  SELECT c.v, c.lbl AS nlbl, 0::BIGINT AS k FROM lou$r c
         |  WHERE c.v % 2 = $par
         |    AND NOT EXISTS (SELECT 1 FROM kvc$r x WHERE x.v = c.v AND x.nlbl = c.lbl)),
         |bs$r AS (SELECT v, nlbl FROM (
         |  SELECT c.v, c.nlbl,
         |    row_number() OVER (PARTITION BY c.v ORDER BY
         |      4 * mm.m * c.k - 2 * coalesce(dg.deg, 0) *
         |        (CASE WHEN c.nlbl = cur.lbl THEN t.tot - coalesce(dg.deg, 0) ELSE t.tot END) DESC,
         |      c.nlbl ASC) AS rn
         |  FROM cnd$r c
         |  JOIN lou$r cur ON cur.v = c.v
         |  LEFT JOIN deg dg ON dg.v = c.v
         |  JOIN tot$r t ON t.nlbl = c.nlbl, mm) s WHERE rn = 1),
         |np$r AS MATERIALIZED (SELECT l.v, coalesce(b.nlbl, l.lbl) AS lbl
         |  FROM lou$r l LEFT JOIN bs$r b ON b.v = l.v),
         |${qcte(s"qo$r", s"lou$r")},
         |${qcte(s"qn$r", s"np$r")},
         |lou${r + 1} AS MATERIALIZED (
         |  SELECT l.v, CASE WHEN qn$r.q > qo$r.q THEN p.lbl ELSE l.lbl END AS lbl
         |  FROM lou$r l JOIN np$r p ON p.v = l.v, qo$r, qn$r)""".stripMargin
    }
    (head +: sweeps).mkString(",\n")
  }

  /** The modularity report tail over a finished label CTE: community
    * rows + broadcast totals, with caller-supplied verdict columns
    * (`extraSelect` must start with ",", `extraFrom` lists the extra
    * 1-row CTEs). Requires `deg`, `mm`, `umin` in scope. */
  private def modularityTail(labSrc: String, extraSelect: String,
      extraFrom: String): String =
    s"""lab AS MATERIALIZED (SELECT v, lbl FROM $labSrc),
       |comm AS (
       |  SELECT l.lbl, count(*)::BIGINT AS n_members,
       |    sum(coalesce(deg.deg, 0))::BIGINT AS deg_sum
       |  FROM lab l LEFT JOIN deg ON deg.v = l.v GROUP BY 1),
       |intra AS (
       |  SELECT la.lbl, count(*)::BIGINT AS e_intra
       |  FROM umin u JOIN lab la ON la.v = u.a JOIN lab lb ON lb.v = u.b
       |  WHERE la.lbl = lb.lbl GROUP BY 1),
       |pc AS MATERIALIZED (
       |  SELECT c.lbl AS community, c.n_members,
       |    coalesce(i.e_intra, 0)::BIGINT AS e_intra, c.deg_sum
       |  FROM comm c LEFT JOIN intra i ON i.lbl = c.lbl),
       |tot AS (
       |  SELECT count(*)::BIGINT AS n_communities, max(mm.m) AS n_edges,
       |    sum(4 * mm.m * e_intra - deg_sum * deg_sum)::BIGINT AS q_num,
       |    (max(mm.m) * max(mm.m) * 4)::BIGINT AS q_den
       |  FROM pc, mm)
       |SELECT pc.community, pc.n_members, pc.e_intra, pc.deg_sum,
       |  tot.n_communities, tot.n_edges, tot.q_num, tot.q_den$extraSelect
       |FROM pc, tot$extraFrom WHERE pc.n_members >= 2
       |""".stripMargin

  private def louvainOracle(lpRounds: Int, lvRounds: Int): String =
    "WITH " + lpCtes(lpRounds) + ",\n" + DegMmCtes + ",\n" +
      louvainSweepCtes(s"l$lpRounds", lvRounds) + ",\n" +
      qcte("qseed", "lou0") + ",\n" +
      modularityTail(s"lou$lvRounds",
        ",\n  qseed.q AS q_num_seed, tot.q_num >= qseed.q AS improved",
        ", qseed")

  /** DuckDB mirror of q_graph_cnm: the labelprop chain seeds cm0,
    * then each merge round unrolls as community-degree / inter-edge /
    * gain / mutual-best / relabel stages (gain = 4m*e12 - 2*d1*d2,
    * all BIGINT over the common 4m^2 denominator); the tail is the
    * modularity report plus the seed Q. */
  /** CNM merge-round CTE chain cm0..cm$rounds seeded from any label
    * CTE — factored so q_graph_cnm and the multi-level composite replay
    * the identical round text. Requires `deg`, `mm`, `umin` in scope. */
  private def cnmRoundCtes(seed: String, rounds: Int): String = {
    val head = s"cm0 AS MATERIALIZED (SELECT v, lbl FROM $seed)"
    val sweeps = (1 to rounds).map { r =>
      s"""dc$r AS (SELECT l.lbl, sum(coalesce(d.deg, 0))::BIGINT AS d
         |  FROM cm${r - 1} l LEFT JOIN deg d ON d.v = l.v GROUP BY 1),
         |ee$r AS (SELECT least(la.lbl, lb.lbl) AS c1, greatest(la.lbl, lb.lbl) AS c2,
         |    count(*)::BIGINT AS e12
         |  FROM umin u JOIN cm${r - 1} la ON la.v = u.a JOIN cm${r - 1} lb ON lb.v = u.b
         |  WHERE la.lbl <> lb.lbl GROUP BY 1, 2),
         |gg$r AS (SELECT e.c1, e.c2, 4 * mm.m * e.e12 - 2 * d1.d * d2.d AS dq
         |  FROM ee$r e JOIN dc$r d1 ON d1.lbl = e.c1 JOIN dc$r d2 ON d2.lbl = e.c2, mm
         |  WHERE 4 * mm.m * e.e12 - 2 * d1.d * d2.d > 0),
         |bb$r AS (SELECT c, p FROM (
         |  SELECT c, p, row_number() OVER (PARTITION BY c ORDER BY dq DESC, p ASC) AS rn FROM (
         |    SELECT c1 AS c, c2 AS p, dq FROM gg$r
         |    UNION ALL SELECT c2 AS c, c1 AS p, dq FROM gg$r) u) t
         |  WHERE rn = 1),
         |ss$r AS (SELECT DISTINCT least(x.c, x.p) AS keep, greatest(x.c, x.p) AS drp
         |  FROM bb$r x JOIN bb$r y ON y.c = x.p AND y.p = x.c),
         |cm$r AS MATERIALIZED (
         |  SELECT l.v, coalesce(s.keep, l.lbl) AS lbl
         |  FROM cm${r - 1} l LEFT JOIN ss$r s ON s.drp = l.lbl)""".stripMargin
    }
    (head +: sweeps).mkString(",\n")
  }

  private def cnmOracle(lpRounds: Int, rounds: Int): String =
    "WITH " + lpCtes(lpRounds) + ",\n" + DegMmCtes + ",\n" +
      cnmRoundCtes(s"l$lpRounds", rounds) + ",\n" +
      qcte("qseed", "cm0") + ",\n" +
      modularityTail(s"cm$rounds",
        ",\n  qseed.q AS q_num_seed, tot.q_num >= qseed.q AS improved",
        ", qseed")

  /** DuckDB mirror of q_graph_multilevel: the full multi-level
    * modularity pipeline — labelprop seed, a Louvain move half-sweep,
    * then a CNM community merge — each phase replayed by the SAME CTE
    * generators its standalone query uses, with the Q of every stage
    * carried to the output verdicts. */
  private def multilevelOracle(lpRounds: Int, lvRounds: Int,
      cnmRounds: Int): String =
    "WITH " + lpCtes(lpRounds) + ",\n" + DegMmCtes + ",\n" +
      louvainSweepCtes(s"l$lpRounds", lvRounds) + ",\n" +
      cnmRoundCtes(s"lou$lvRounds", cnmRounds) + ",\n" +
      qcte("qseed", "lou0") + ",\n" +
      qcte("qmoved", s"lou$lvRounds") + ",\n" +
      modularityTail(s"cm$cnmRounds",
        ",\n  qseed.q AS q_num_seed, qmoved.q AS q_num_moved," +
          "\n  qmoved.q >= qseed.q AS improved_move," +
          " tot.q_num >= qmoved.q AS improved_merge",
        ", qseed, qmoved")

  /** DuckDB mirror of q_graph_kcore: the same derived undirected edge
    * list and `rounds` unrolled peel stages (the pagerank-oracle
    * unrolling pattern); the final degree is recomputed inside the last
    * survivor set, with edge-less survivors entering via coalesce(0). */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    def liveDeg(stage: String): String =
      s"""SELECT v, count(*)::BIGINT AS deg FROM (
         |    SELECT u.a AS v FROM und u JOIN $stage x ON x.v = u.a JOIN $stage y ON y.v = u.b
         |    UNION ALL
         |    SELECT u.b AS v FROM und u JOIN $stage x ON x.v = u.a JOIN $stage y ON y.v = u.b) e
         |  GROUP BY v""".stripMargin
    val base =
      s"""n AS (SELECT count(*)::BIGINT AS n FROM documents),
         |raw AS (SELECT doc_id AS a,
         |  ('0x' || substr(md5('pr:' || doc_id::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % n.n AS b
         |  FROM documents, n, UNNEST([1, 2, 3, 4]) AS u(k)),
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b),
         |s0 AS MATERIALIZED (SELECT doc_id AS v FROM documents)""".stripMargin
    val stages = (0 until rounds).map { t =>
      s"""s${t + 1} AS MATERIALIZED (SELECT v FROM (
         |  ${liveDeg(s"s$t")}) d WHERE deg >= $k)""".stripMargin
    }
    "WITH " + (base +: stages).mkString(",\n") +
      s"""
         |SELECT s.v AS doc_id, coalesce(d.deg, 0)::BIGINT AS core_deg
         |FROM s$rounds s LEFT JOIN (
         |  ${liveDeg(s"s$rounds")}) d ON d.v = s.v
         |""".stripMargin
  }

  /** DuckDB mirror of q_graph_sssp: derived edges with the same h60
    * weight derivation; the walk carries (v, dist, hops) with hops
    * bounding path length at `rounds` edges — exactly the reach of
    * `rounds` Bellman-Ford relaxations — and UNION dedups repeated
    * states per level before the min-fold. */
  private def ssspOracle(rounds: Int): String =
    s"""WITH RECURSIVE n AS (SELECT count(*)::BIGINT AS n FROM documents),
       |e AS MATERIALIZED (SELECT doc_id AS src,
       |  ('0x' || substr(md5('pr:' || doc_id::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % n.n AS dst,
       |  ('0x' || substr(md5('wt:' || doc_id::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % 5 + 1 AS w
       |  FROM documents, n, UNNEST([1, 2, 3, 4]) AS u(k)),
       |walk(v, dist, hops) AS (
       |  SELECT doc_id, 0::BIGINT, 0 FROM documents WHERE doc_id % 17 = 0
       |  UNION
       |  SELECT e.dst, w.dist + e.w, w.hops + 1 FROM walk w JOIN e ON e.src = w.v
       |  WHERE w.hops < $rounds)
       |SELECT v AS doc_id, min(dist)::BIGINT AS dist FROM walk GROUP BY v
       |""".stripMargin

  /** DuckDB mirror of q_graph_bfs: same derived edges and seed set; a
    * depth-bounded recursive CTE (UNION dedups (v, dist) rows per level,
    * so the walk can't blow up on the 4-regular fan-out) then min(dist)
    * per node. */
  private def bfsOracle(depth: Int): String =
    s"""WITH RECURSIVE n AS (SELECT count(*)::BIGINT AS n FROM documents),
       |e AS MATERIALIZED (SELECT doc_id AS src,
       |  ('0x' || substr(md5('pr:' || doc_id::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % n.n AS dst
       |  FROM documents, n, UNNEST([1, 2, 3, 4]) AS u(k)),
       |walk(v, dist) AS (
       |  SELECT doc_id, 0::BIGINT FROM documents WHERE doc_id % 17 = 0
       |  UNION
       |  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.v
       |  WHERE w.dist < $depth)
       |SELECT v AS doc_id, min(dist)::BIGINT AS dist FROM walk GROUP BY v
       |""".stripMargin

  /** DuckDB mirror of the personalized variant: identical stages, with
    * the teleport/init masses gated by the seed predicate. */
  private def pagerankSeededOracle(iters: Int, scale: Long): String = {
    val tele = 3 * scale / 20
    val base =
      s"""n AS (SELECT count(*)::BIGINT AS n FROM documents),
         |e AS MATERIALIZED (SELECT doc_id AS src,
         |  ('0x' || substr(md5('pr:' || doc_id::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % n.n AS dst
         |  FROM documents, n, UNNEST([1, 2, 3, 4]) AS u(k)),
         |deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         |r0 AS MATERIALIZED (SELECT doc_id AS v,
         |  CASE WHEN doc_id % 17 = 0 THEN $scale ELSE 0 END::BIGINT AS r FROM documents)""".stripMargin
    val rounds = (0 until iters).map { t =>
      s"""r${t + 1} AS MATERIALIZED (SELECT allv.v,
         |  CASE WHEN allv.v % 17 = 0 THEN $tele ELSE 0 END + (17 * coalesce(inc.c, 0)) // 20 AS r
         |  FROM (SELECT v FROM r0) allv LEFT JOIN (
         |    SELECT e.dst AS v, SUM(r.r // d.deg)::BIGINT AS c
         |    FROM e JOIN r$t r ON r.v = e.src JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) inc USING (v))""".stripMargin
    }
    "WITH " + (base +: rounds).mkString(",\n") +
      s"\nSELECT v AS doc_id, r AS rank FROM r$iters\n"
  }

  /** DuckDB mirror of q_graph_triangles: same derived graph, same
    * (deg, id) orientation, same once-per-triangle wedge + canonical-
    * pair closure equi-join. */
  private def trianglesOracle: String =
    """WITH n AS (SELECT count(*)::BIGINT AS n FROM documents),
      |raw AS (SELECT doc_id AS a,
      |  ('0x' || substr(md5('pr:' || doc_id::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % n.n AS b
      |  FROM documents, n, UNNEST([1, 2, 3, 4]) AS u(k)),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM raw WHERE a <> b),
      |deg AS MATERIALIZED (
      |  SELECT v, count(*)::BIGINT AS deg FROM (
      |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY v),
      |orient AS MATERIALIZED (
      |  SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS s,
      |         CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS t
      |  FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b),
      |tris AS MATERIALIZED (
      |  SELECT w.u, w.v, w.w FROM (
      |    SELECT e1.s AS u, e1.t AS v, e2.t AS w
      |    FROM orient e1 JOIN orient e2 ON e2.s = e1.s AND e2.t > e1.t) w
      |  JOIN und e3 ON e3.a = least(w.v, w.w) AND e3.b = greatest(w.v, w.w))
      |SELECT node, count(*)::BIGINT AS n_tri FROM (
      |  SELECT u AS node FROM tris UNION ALL SELECT v FROM tris UNION ALL SELECT w FROM tris)
      |GROUP BY node
      |""".stripMargin

  /** DuckDB mirror of the q_graph_pagerank pipeline: the same derived
    * edge list, degrees, and `iters` materialized rank stages — floor
    * division (`//`) and BIGINT arithmetic throughout, so the replay is
    * bit-exact. */
  private def pagerankOracle(iters: Int, scale: Long): String = {
    val tele = 3 * scale / 20
    val base =
      s"""n AS (SELECT count(*)::BIGINT AS n FROM documents),
         |e AS MATERIALIZED (SELECT doc_id AS src,
         |  ('0x' || substr(md5('pr:' || doc_id::VARCHAR || ':' || k::VARCHAR), 1, 15))::BIGINT % n.n AS dst
         |  FROM documents, n, UNNEST([1, 2, 3, 4]) AS u(k)),
         |deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY src),
         |r0 AS MATERIALIZED (SELECT doc_id AS v, $scale::BIGINT AS r FROM documents)""".stripMargin
    val rounds = (0 until iters).map { t =>
      s"""r${t + 1} AS MATERIALIZED (SELECT allv.v, $tele + (17 * coalesce(inc.c, 0)) // 20 AS r
         |  FROM (SELECT v FROM r0) allv LEFT JOIN (
         |    SELECT e.dst AS v, SUM(r.r // d.deg)::BIGINT AS c
         |    FROM e JOIN r$t r ON r.v = e.src JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) inc USING (v))""".stripMargin
    }
    "WITH " + (base +: rounds).mkString(",\n") +
      s"\nSELECT v AS doc_id, r AS rank FROM r$iters\n"
  }
}
