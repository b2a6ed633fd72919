package graft

import graft.api.Graft
import graft.functions.{TokenSplit, TokenWindows}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** The native text kernels against the java.util.regex Column formulas
  * they replaced, which this spec keeps as their references: element for
  * element, in data type and nullability, on the generated and the
  * interpreted eval paths. */
class TextKernelSpec extends SparkSpec {

  /** the tokenizer formula [[TokenSplit]] replaced */
  private def splitFormula(c: Column): Column = array_remove(split(c, "\\s+"), "")

  /** the window formula [[TokenWindows]] replaced */
  private def windowFormula(joined: Column, n: Int): Column =
    regexp_extract_all(joined, lit(s"(?:^| )(?=([^ ]+(?: [^ ]+){${n - 1}}))"), lit(1))

  private def tokenSplit(c: Column): Column = Bridge.column(TokenSplit(Bridge.expression(c)))

  private def tokenWindows(c: Column, n: Int): Column =
    Bridge.column(TokenWindows(Bridge.expression(c), n))

  private val evalPaths = Seq(
    // a generated class that fails to compile throws here instead of
    // silently falling back to the interpreted path
    "codegen" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  /** rows `(id, v)` over an RDD-backed relation, so the optimizer cannot
    * fold the expressions on the driver */
  private def frame(v: DataType, rows: Seq[Any]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case (x, i) => Row(i.toLong, x) }, 3),
      StructType(Seq(StructField("id", LongType), StructField("v", v))))

  /** `kernel` and `formula` agree on every row of `df`, on both eval
    * paths, and have the same data type and nullability */
  private def agree(what: String, df: DataFrame, kernel: Column, formula: Column): Unit = {
    val (k, f) = (df.select(kernel), df.select(formula))
    assert(k.schema.head.dataType == f.schema.head.dataType &&
      k.schema.head.nullable == f.schema.head.nullable,
      s"$what: ${k.schema.head} vs ${f.schema.head}")
    def run(c: Column): Seq[(Long, Option[Seq[String]])] =
      df.select(col("id"), c.as("r")).collect().toSeq
        .map(r => r.getLong(0) -> Option(r.getSeq[String](1)))
        .sortBy(_._1)
    val truth = withConf(evalPaths.head._2: _*)(run(formula))
    assert(truth.size == df.count())
    for ((path, conf) <- evalPaths) {
      val got = withConf(conf: _*)(run(kernel))
      val diff = got.zip(truth).filter { case (a, b) => a != b }
      assert(diff.isEmpty, s"$what, $path: ${diff.take(5).mkString("\n")}")
    }
  }

  private val ws = Seq(" ", "\t", "\n", "\u000b", "\f", "\r")

  /** edge texts: null, empty and whitespace-only; leading, trailing and
    * repeated runs of each whitespace byte; spaces Java's `\s` does not
    * know; multi-byte tokens */
  private val edgeTexts: Seq[String] = Seq(null, "", " ", ws.mkString, "  \t\t\n\n ") ++
    ws.flatMap(w => Seq(s"${w}a", s"a$w", s"$w${w}a$w${w}b$w$w$w", s"a${w}b$w${w}c")) ++
    Seq("a b c", " ", "東京　タワー  x", "　 　",
      "a\u0085b c d e", "Grüße aus Köln — ÜNÏCÖDÉ", "😀 é 😀😀\tß",
      "MiXeD CaSe\r\nLines\u000bTab")

  /** seeded random strings over an alphabet of those pieces */
  private def randomTexts(seed: Long, count: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val pieces = ws ++ Seq("a", "B", "xy", "é", "東", "😀", " ", "　", "\u0085", "Ǆ", "İ")
    Seq.fill(count)(Seq.fill(rnd.nextInt(30))(pieces(rnd.nextInt(pieces.size))).mkString)
  }

  /** strings that are not valid UTF-8: Spark's regex functions decode
    * them first, each bad sequence read as U+FFFD */
  private val invalidUtf8: Seq[Array[Byte]] = Seq(
    Array(0xc3, 0x28, 0x20, 0x41), Array(0x61, 0x20, 0xff, 0x20, 0x62),
    Array(0xe6, 0x9d, 0x20, 0x20, 0x61, 0xf0, 0x9f, 0x98), Array(0x80, 0x09, 0x80))
    .map(_.map(_.toByte))

  test("TokenSplit equals array_remove(split(s, \\s+), \"\") on edge and random strings") {
    val df = frame(StringType, edgeTexts ++ randomTexts(17, 400))
    agree("raw", df, tokenSplit(col("v")), splitFormula(col("v")))
    agree("tokens", df, Graft.tokens(col("v")), splitFormula(lower(col("v"))))
    val bad = frame(BinaryType, invalidUtf8).select(col("id"), col("v").cast("string").as("v"))
    agree("invalid utf-8", bad, tokenSplit(col("v")), splitFormula(col("v")))
  }

  test("TokenSplit keeps U+00A0 and U+3000 inside tokens and cuts every ASCII whitespace") {
    val got = frame(StringType, Seq("Ab C　d" + ws.mkString + "É"))
      .select(Graft.tokens(col("v"))).head().getSeq[String](0)
    assert(got == Seq("ab c　d", "é"))
  }

  /** token arrays for the window kernel: nulls, empty tokens, tokens
    * that hold a space or other whitespace, multi-byte tokens */
  private val edgeArrays: Seq[Seq[String]] = Seq(null, Seq(), Seq(null), Seq(""), Seq(" "),
    Seq("a"), Seq("a", "b"), Seq("a", "b", "c"), Seq("a", null, "b", "c"), Seq("a", "", "b", "c"),
    Seq("", "a", "b", ""), Seq("a b", "c"), Seq(" a", "b "), Seq("a  b", "c", "d"),
    Seq("a\tb", "c\nd", "e"), Seq("東京", "タワー", "😀", "ß"), Seq(" ", "　", "x"),
    (1 to 13).map(i => s"w$i"), (1 to 12).map(i => s"v$i"), (1 to 30).map(i => s"t${i % 4}"))

  private def randomArrays(seed: Long, count: Int): Seq[Seq[String]] = {
    val rnd = new scala.util.Random(seed)
    val pieces = Seq("a", "bc", "", null, "x y", "  ", "\t", "é", "東京", "z w", "😀")
    Seq.fill(count)(Seq.fill(rnd.nextInt(20))(pieces(rnd.nextInt(pieces.size))))
  }

  test("TokenWindows equals the regex window formula at n = 1, 2, 3, 13") {
    val arrays = frame(ArrayType(StringType, containsNull = true),
      edgeArrays ++ randomArrays(29, 400))
    val texts = frame(StringType, edgeTexts ++ randomTexts(31, 300))
    for (n <- Seq(1, 2, 3, 13)) {
      agree(s"ngrams n=$n", arrays, Graft.ngrams(col("v"), n),
        windowFormula(concat_ws(" ", col("v")), n))
      agree(s"ngrams(tokens) n=$n", texts, Graft.ngrams(Graft.tokens(col("v")), n),
        windowFormula(concat_ws(" ", splitFormula(lower(col("v")))), n))
      // a raw string: any whitespace but the space is an ordinary byte
      agree(s"raw n=$n", texts, tokenWindows(col("v"), n), windowFormula(col("v"), n))
    }
    val bad = frame(BinaryType, invalidUtf8).select(col("id"), col("v").cast("string").as("v"))
    for (n <- Seq(1, 2))
      agree(s"invalid utf-8 n=$n", bad, tokenWindows(col("v"), n), windowFormula(col("v"), n))
  }

  test("TokenWindows: arrays shorter than n give no window; n must be positive") {
    val got = frame(ArrayType(StringType, containsNull = true),
      Seq((1 to 12).map(i => s"v$i"), null, Seq("a", "", "b")))
      .select(col("id"), Graft.ngrams(col("v"), 13).as("w")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got == Map(0L -> Seq(), 1L -> Seq(), 2L -> Seq()))
    intercept[IllegalArgumentException](Graft.ngrams(col("v"), 0))
  }
}
