package graft


/** The trained quality filter (q_text_classifier /
  * Graft.qualityClassifier): planted-junk detection, full fixture junk
  * recall, and determinism. The oracle gate proves the GD replay is
  * exact; this spec proves the MODEL is useful — that the learned
  * weights actually separate junk from clean text. */
class TextClassifierSpec extends SparkSpec {
  import spark.implicits._

  test("planted junk is flagged; planted clean text overwhelmingly is not") {
    // 40 clean English-shaped docs (stopwords, 100-2000 chars, sane token
    // lengths) + 10 gibberish junk docs (no stopwords, < 100 chars)
    val clean = (0 until 40).map { i =>
      val s = s"the cat number $i sat on the mat and it was good to see it " +
        "in the sun of a warm day and the dog ran to the gate in the yard"
      (i.toLong, s + " " + s.take(40 + 3 * (i % 10)))
    }
    val junk = (100 until 110).map { i =>
      (i.toLong, s"zxqv$i kjwpp qqxzn mmnnbb v$i wkz")
    }
    val docs = (clean ++ junk).toDF("doc_id", "text")
    val out = graft.api.Graft.qualityClassifier(docs, rounds = 6, lr = 4.0)
      .select("doc_id", "y_heur", "score", "flagged")
      .collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getInt(1), r.getDouble(2), r.getBoolean(3))).toMap
    // the heuristic consensus must label the plant as intended (guards
    // the test fixture itself)
    junk.foreach { case (id, _) => assert(byId(id)._1 == 1, s"doc $id not heuristic-junk") }
    clean.foreach { case (id, _) => assert(byId(id)._1 == 0, s"doc $id not heuristic-clean") }
    // the TRAINED model must recover the plant: every junk doc flagged...
    junk.foreach { case (id, _) =>
      assert(byId(id)._3, s"planted junk $id unflagged (score ${byId(id)._2})")
    }
    // ...and clean text overwhelmingly passes (the balanced trade-off
    // allows a few borderline false positives, never a collapse)
    val cleanFlagged = clean.count { case (id, _) => byId(id)._3 }
    assert(cleanFlagged <= clean.size / 5,
      s"$cleanFlagged of ${clean.size} clean docs flagged — filter degenerate")
    // scores separate in aggregate
    val junkMean = junk.map { case (id, _) => byId(id)._2 }.sum / junk.size
    val cleanMean = clean.map { case (id, _) => byId(id)._2 }.sum / clean.size
    assert(junkMean > cleanMean + 0.1,
      s"junk mean $junkMean vs clean mean $cleanMean — no separation")
  }

  test("fixture corpus: full junk recall, both branches fire, deterministic") {
    val rows = q("q_text_classifier").collect()
    assert(rows.nonEmpty)
    val junk = rows.filter(_.getAs[Int]("y_heur") == 1)
    val clean = rows.filter(_.getAs[Int]("y_heur") == 0)
    assert(junk.nonEmpty, "fixture has no heuristic-junk docs — test is vacuous")
    assert(clean.nonEmpty)
    // the class-balanced trainer recovers EVERY heuristic-junk doc at
    // this sf (measured; unbalanced GD flags none — the failure mode
    // this pins against)
    junk.foreach(r => assert(r.getAs[Boolean]("flagged"),
      s"junk doc ${r.getAs[Long]("doc_id")} missed"))
    assert(clean.count(!_.getAs[Boolean]("flagged")) > clean.length / 2,
      "most clean docs must pass the filter")
    // pure function of the input
    val again = q("q_text_classifier").collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }
}
