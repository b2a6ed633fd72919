package graft


/** Contracts of the pattern-mining trio beyond the oracle's exact
  * replay: pair canonicalization and support threshold, association-rule
  * probability laws (confidence bounds, lift symmetry, rule/pair
  * bijection), and the Markov property of the transition matrix
  * (per-source probabilities partition unity; totals count every
  * consecutive pair exactly once). */
class MiningSpec extends SparkSpec {

  test("copairs: canonical order, threshold respected, support symmetric by construction") {
    val rows = q("q_mine_copairs").collect()
    assert(rows.nonEmpty, "no frequent pairs at this sf — threshold too high")
    rows.foreach { r =>
      assert(r.getAs[Long]("part_a") < r.getAs[Long]("part_b"), "pair not canonical")
      assert(r.getAs[Long]("support") >= 3L, "support below threshold leaked")
    }
    // no duplicate pair rows
    val keys = rows.map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b")))
    assert(keys.distinct.length == keys.length, "duplicate pair rows")
  }

  test("assoc rules: two directions per pair, confidence in (0,1], lift symmetric") {
    val pairs = q("q_mine_copairs").count()
    val rules = q("q_mine_assoc").collect()
    assert(rules.length == 2 * pairs, "rule count != 2 x frequent pairs")
    rules.foreach { r =>
      val conf = r.getAs[Double]("confidence")
      assert(conf > 0.0 && conf <= 1.0, s"confidence out of range: $conf")
      assert(r.getAs[Double]("lift") > 0.0)
    }
    // lift(a->b) == lift(b->a): both are sup_ab*N/(sup_a*sup_b)
    val byDir = rules.map(r => ((r.getAs[Long]("antecedent"), r.getAs[Long]("consequent")),
      r.getAs[Double]("lift"))).toMap
    byDir.foreach { case ((a, c), l) =>
      assert(math.abs(byDir((c, a)) - l) < 1e-12, s"lift asymmetric for ($a,$c)")
    }
  }

  test("transitions: per-source probabilities sum to 1, totals count every consecutive pair") {
    val t = q("q_mine_transitions").collect()
    assert(t.nonEmpty)
    t.groupBy(_.getAs[String]("from_type")).foreach { case (ft, rows) =>
      val p = rows.map(_.getAs[Double]("prob")).sum
      assert(math.abs(p - 1.0) < 1e-9, s"probs for $ft sum to $p")
    }
    // total transition count = events - users-with-activity (each user's
    // chain of m events yields m-1 transitions)
    val ev = graft.sources.Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(t.map(_.getAs[Long]("n")).sum == expected)
  }
}
