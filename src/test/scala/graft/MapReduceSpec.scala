package graft

import graft.mapreduce.{AppRegistry, SortApp, WordCountApp}
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Test => ScTest}

/** Parity layer: WordCount/Sort apps + registry, vs naive Scala folds
  * (SURVEY.md §5.3 property tests). */
class MapReduceSpec extends SparkSpec {
  import spark.implicits._

  test("WordCountApp matches a naive Map[String, Long] fold") {
    val lines = Seq("the fast fox", "the slow   fox", "", "  ", "one")
    val got = WordCountApp.run(spark.createDataset(lines)).collect().toMap
    val want = lines.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want)
  }

  test("property: WordCountApp == naive fold for random token streams") {
    val tokenGen = Gen.oneOf("a", "bb", "ccc", "the", "x1", "Ω")
    val lineGen = Gen.listOf(tokenGen).map(_.mkString(" "))
    val prop = forAll(Gen.listOfN(20, lineGen)) { lines =>
      val got = WordCountApp.run(spark.createDataset(lines)).collect().toMap
      val want = lines.flatMap(_.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      got == want
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("SortApp.sorted produces a total order (MergeSort replacement)") {
    val lines = Seq("banana apple", "cherry  apple", "date")
    val got = SortApp.sorted(spark.createDataset(lines)).collect().toSeq
    assert(got == got.sorted)
    assert(got.size == 5)
  }

  test("AppRegistry runs wordcount over a text directory (reference job path)") {
    val dir = new java.io.File(tempDir("graft_wc"))
    java.nio.file.Files.writeString(new java.io.File(dir, "f1.txt").toPath, "a b a\nb c\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "f2.txt").toPath, "c c\n")
    val got = AppRegistry.runJob(spark, "wordcount", dir.getAbsolutePath).collect().toMap
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 3L))
  }
}
