package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench output contract that cost rounds 1-2 their artifact: the
  * LAST stdout line must fit the driver's bounded tail (~2.9k chars
  * observed) with the trailing sbt status line still behind it. Checked
  * against the REAL registry so adding queries can't silently regrow the
  * line past the window. */
class BenchLineSpec extends AnyFunSuite {

  private val names = SparkEntry.defs.filter(_.bench).map(_.name)
  // worst-case widths: three-digit seconds for every query
  private val results = names.map(_ -> 999.99)

  test("compact line stays far inside the driver's stdout tail window") {
    val line = Bench.compactLine(results, nFail = 0, "/root/testdata/sf0.1")
    assert(line.length < 2000,
      s"compact bench line is ${line.length} chars — approaching the " +
        "~2.9k tail window that swallowed rounds 1-2; trim families or times")
    assert(line.startsWith("{\"metric\":\"total\""))
  }

  test("compact line survives failed queries (failure named, family keeps valid samples)") {
    val withFail = results.updated(0, names.head -> -1.0)
    val line = Bench.compactLine(withFail, nFail = 1, "/x")
    assert(line.contains("\"failed\":1"))
    assert(line.contains("\"failed_qs\":[\"" + names.head + "\"]"))
    assert(!line.contains(":-1"), "a failure must not swallow its family's valid samples")
    assert(line.length < 2000)
  }

  test("family values reconcile with the total even when a family has a failure") {
    val rs = Seq("q_agg_a" -> 2.0, "q_agg_b" -> -1.0, "q_join_c" -> 3.0)
    val line = Bench.compactLine(rs, nFail = 1, "/x")
    assert(line.contains("\"value\":5.00"))
    assert(line.contains("\"agg\":2.00"))
    assert(line.contains("\"join\":3.00"))
  }

  test("family extraction groups q_-prefixed names as intended") {
    assert(Bench.family("q_agg_median") == "agg")
    assert(Bench.family("q_wordcount") == "wordcount")
    assert(Bench.family("q_join_stream_stream") == "join")
  }

  // --- promote-only-if-better artifact guard (BENCH_r05: an all-cold
  // passes=1 overrun run clobbered a valid min-of-3 artifact) ---

  private def line(passes: Map[String, Int]): String =
    Bench.fullLine(passes.keys.toSeq.map(_ -> 1.0), 0, "/x", passes)

  test("minPasses reads the minimum sample count over successful queries") {
    assert(Bench.minPasses(line(Map("a" -> 3, "b" -> 2, "c" -> 3))) == 2)
    assert(Bench.minPasses(line(Map("a" -> 1, "b" -> 1))) == 1)
  }

  test("minPasses ignores failed queries (0 passes) and defaults legacy lines to 1") {
    assert(Bench.minPasses(line(Map("a" -> 3, "dead" -> 0))) == 3)
    // a line with no passes map at all = single-sample
    assert(Bench.minPasses(Bench.fullLine(Seq("a" -> 1.0), 0, "/x")) == 1)
  }

  test("an all-cold run must not replace a min-of-3 artifact") {
    val good = line(Map("a" -> 3, "b" -> 2))
    val cold = line(Map("a" -> 1, "b" -> 1))
    assert(!Bench.shouldReplace(Some(good), cold))
    assert(Bench.shouldReplace(Some(cold), good))
  }

  test("equally-measured checkpoints still replace (crash safety), and a missing file always writes") {
    val a = line(Map("a" -> 2, "b" -> 2))
    val b = line(Map("a" -> 2, "b" -> 3))
    assert(Bench.shouldReplace(Some(a), b))
    assert(Bench.shouldReplace(None, line(Map("a" -> 1))))
  }

  test("writeArtifact: refused candidates persist to .rejected; a promoted write clears it") {
    val dir = SparkSpec.tempDir("bench_art_")
    val path = s"$dir/bench_full.json"
    def read(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))).trim
    val good = line(Map("a" -> 3, "b" -> 2))
    val cold = line(Map("a" -> 1, "b" -> 1))
    assert(Bench.writeArtifact(path, good))
    assert(!Bench.writeArtifact(path, cold), "all-cold must be refused")
    assert(read(path) == good, "artifact must keep the better run")
    assert(read(path + ".rejected") == cold,
      "the refused run must leave on-disk evidence, not just stderr")
    val better = line(Map("a" -> 3, "b" -> 3))
    assert(Bench.writeArtifact(path, better))
    assert(read(path) == better)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".rejected")),
      "a promoted artifact supersedes stale refusal evidence")
  }

  // --- same-benchmark guard: sf dir + query set (a better-measured run
  // of a DIFFERENT experiment must not replace this one's artifact) ---

  private def lineAt(sf: String, passes: Map[String, Int]): String =
    Bench.fullLine(passes.keys.toSeq.map(_ -> 1.0), 0, sf, passes)

  test("a run against a different sf fixture never replaces, however well-measured") {
    val committed = lineAt("/root/testdata/sf0.1", Map("a" -> 3, "b" -> 3))
    val otherSf = lineAt("/root/testdata/sf0.01", Map("a" -> 3, "b" -> 3))
    assert(!Bench.shouldReplace(Some(committed), otherSf))
    assert(Bench.shouldReplace(Some(committed),
      lineAt("/root/testdata/sf0.1", Map("a" -> 3, "b" -> 3))))
  }

  test("registry growth promotes at equal passes; shrink and under-measured growth refuse") {
    val committed = line(Map("a" -> 3, "b" -> 3))
    val grown = line(Map("a" -> 3, "b" -> 3, "c" -> 3))
    val grownCold = line(Map("a" -> 1, "b" -> 1, "c" -> 1))
    val shrunk = line(Map("a" -> 3))
    // r11: a superset run at >= the existing pass floor covers the old
    // artifact entirely — the round-10 staleness loop is closed
    assert(Bench.shouldReplace(Some(committed), grown))
    assert(!Bench.shouldReplace(Some(committed), grownCold),
      "growth never launders an under-measured run")
    assert(!Bench.shouldReplace(Some(committed), shrunk))
    assert(Bench.shouldReplace(None, grown), "after deleting the artifact, anything writes")
  }

  test("an existing-but-unreadable artifact refuses promotion (unreadable != absent)") {
    val dir = SparkSpec.tempDir("bench_art_")
    val path = s"$dir/bench_full.json"
    // a directory at the artifact path makes the read throw, not 'absent'
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(path))
    assert(!Bench.writeArtifact(path, line(Map("a" -> 3))),
      "an IO error reading the artifact must refuse, not clobber")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".rejected")))
  }

  test("compact line carries the minp validity marker") {
    val rs = Seq("q_agg_a" -> 2.0, "q_agg_b" -> 1.0)
    val cold = Bench.compactLine(rs, 0, "/x", "null", Map("q_agg_a" -> 1, "q_agg_b" -> 1))
    assert(cold.contains("\"minp\":1"))
    val warm = Bench.compactLine(rs, 0, "/x", "null", Map("q_agg_a" -> 3, "q_agg_b" -> 2))
    assert(warm.contains("\"minp\":2"))
    // legacy call without a passes map: marker defaults to 1 (single-sample)
    assert(Bench.compactLine(rs, 0, "/x").contains("\"minp\":1"))
  }

  test("compact line states the committed artifact total when one was on disk") {
    val rs = Seq("q_agg_a" -> 2.0, "q_agg_b" -> 1.0)
    val line = Bench.compactLine(rs, 0, "/x", "null", Map.empty, Some(97.222))
    assert(line.contains("\"committed\":97.22"), line)
    // no artifact on disk at start -> no field, not a null placeholder
    assert(!Bench.compactLine(rs, 0, "/x").contains("committed"))
  }
}
