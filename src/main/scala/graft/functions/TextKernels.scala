package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the whitespace tokens of one string, cut
  * in one pass over its UTF-8 bytes — the body of `Graft.tokens`, which
  * puts Spark's own `lower` in front of it.
  *
  * EXACTNESS CONTRACT (do not "optimize"): for every string `s`,
  * `TokenSplit(s)` equals `array_remove(split(s, "\\s+"), "")`, the
  * java.util.regex formula it replaces, element for element and in its
  * data type (`array<string>`, `containsNull = false`; null in, null
  * out). Java's `\s` is exactly the six ASCII bytes `[ \t\n\x0B\f\r]`,
  * so a token is a maximal run of other bytes: U+00A0, U+3000 and every
  * other non-ASCII space stay inside tokens, and no byte of a multi-byte
  * UTF-8 character is ever one of the six. Spark's `split` decodes the
  * string first, so a string that is not valid UTF-8 is cut from its
  * decoded form (each bad sequence read as U+FFFD), here as there.
  * Asserted against that formula, on both eval paths, in TextKernelSpec.
  */
case class TokenSplit(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.stringInput("tokensplit", child)

  override def nullSafeEval(v: Any): Any = TextKernels.tokenSplit(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextKernels.tokenSplit($s)")

  override protected def withNewChildInternal(newChild: Expression): TokenSplit =
    copy(child = newChild)
}

/** Native Catalyst expression: every window of `n` consecutive
  * space-separated fields of one string, in order — the body of
  * `Graft.ngrams`, which hands it the token array joined by single
  * spaces (`concat_ws(" ", toks)`).
  *
  * EXACTNESS CONTRACT (do not "optimize"): for every string `s`,
  * `TokenWindows(s, n)` equals
  * `regexp_extract_all(s, "(?:^| )(?=([^ ]+(?: [^ ]+){n-1}))", 1)`, the
  * java.util.regex formula it replaces, element for element and in its
  * data type (`array<string>`, `containsNull = true`; null in, null
  * out). The regex tries one window start at offset 0 and one after
  * every space, and captures `n` non-empty fields joined by single
  * spaces. So with `s` cut at every space into fields (empty ones
  * included), the windows are the runs of `n` consecutive fields that
  * are all non-empty, each emitted as its span of `s`: an empty token
  * (two spaces in a row) breaks a window, a token that holds a space
  * counts as two fields, other whitespace is an ordinary byte, and
  * fewer than `n` fields give no window. As for [[TokenSplit]], a string
  * that is not valid UTF-8 is cut from its decoded form. Asserted
  * against that formula, on both eval paths, in TextKernelSpec.
  */
case class TokenWindows(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"window width must be positive: $n")

  override def dataType: DataType = ArrayType(child.dataType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.stringInput("tokenwindows", child)

  override def nullSafeEval(v: Any): Any =
    TextKernels.tokenWindows(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.TextKernels.tokenWindows($s, $n)")

  override protected def withNewChildInternal(newChild: Expression): TokenWindows =
    copy(child = newChild)
}

/** The byte scans behind [[TokenSplit]] and [[TokenWindows]], shared by
  * their interpreted and generated code. Each result's elements share
  * one private copy of the input's bytes. */
object TextKernels {

  private[functions] def stringInput(name: String, child: Expression): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$name needs a string argument, got $other")
    }

  /** the bytes of `s` in a new array: the result's strings point into
    * it, so it must not be a buffer the caller may reuse */
  private def bytesOf(s: UTF8String): Array[Byte] = {
    val b = new Array[Byte](s.numBytes)
    s.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    b
  }

  /** `s` as Spark's regex functions see it: decoded, then re-encoded */
  private def decoded(s: UTF8String): UTF8String = UTF8String.fromString(s.toString)

  private def result(out: Array[Any], k: Int): ArrayData =
    new GenericArrayData(
      if (k == out.length) out
      else java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], k).asInstanceOf[Array[Any]])

  private def grown(out: Array[Any]): Array[Any] =
    java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], out.length * 2)
      .asInstanceOf[Array[Any]]

  def tokenSplit(s: UTF8String): ArrayData = {
    val b = bytesOf(s)
    var out = new Array[Any](8)
    var k = 0
    var high = 0 // any byte >= 0x80 sets the sign bit
    var start = -1
    var i = 0
    while (i <= b.length) {
      val c = if (i < b.length) b(i) else 32.toByte
      if (c == 32 || (c >= 9 && c <= 13)) {
        if (start >= 0) {
          if (k == out.length) out = grown(out)
          out(k) = UTF8String.fromBytes(b, start, i - start)
          k += 1
          start = -1
        }
      } else {
        high |= c
        if (start < 0) start = i
      }
      i += 1
    }
    if (high < 0 && !s.isValid) tokenSplit(decoded(s)) else result(out, k)
  }

  def tokenWindows(s: UTF8String, n: Int): ArrayData = {
    val b = bytesOf(s)
    var out = new Array[Any](8)
    var k = 0
    var high = 0
    // starts of the last n fields of the current run of non-empty ones
    val starts = new Array[Int](n)
    var run = 0
    var fieldStart = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == 32) {
        if (i > fieldStart) {
          starts(run % n) = fieldStart
          run += 1
          if (run >= n) {
            val w = starts(run % n)
            if (k == out.length) out = grown(out)
            out(k) = UTF8String.fromBytes(b, w, i - w)
            k += 1
          }
        } else run = 0
        fieldStart = i + 1
      } else high |= b(i)
      i += 1
    }
    if (high < 0 && !s.isValid) tokenWindows(decoded(s), n) else result(out, k)
  }
}
