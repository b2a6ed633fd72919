package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: the `numHashes`-way MinHash signature of
  * one document's shingle array, in one codegen'd pass that hashes each
  * shingle ONCE.
  *
  * This is what lets the MinHash index stay row-local: a document's
  * shingles never explode into one row per shingle, so there is no
  * `(doc_id, shingle)` distinct and no `groupBy(doc_id)` min-aggregate to
  * regroup them. It is native rather than higher-order functions because
  * `array_min(transform(shingles, s -> ...))` per hash runs its lambdas
  * interpreted and re-evaluates the md5 once per hash (measured 6x
  * slower than an exploded aggregate).
  *
  * EXACTNESS CONTRACT (do not "optimize"): with `h` = the 32-char hex
  * md5 of a shingle's UTF-8 bytes,
  * `ha = conv(substr(h, 1, 15), 16, 10)` (its top 60 bits) and
  * `hb = conv(substr(h, 16, 15), 16, 10) % 2^56` (digest bytes 8..14),
  * slot i of the signature is `min over shingles of (ha + i*hb) % 2^60`
  * — the Kirsch-Mitzenmacher family every DuckDB oracle of the dedup
  * family states as `('0x' || substr(md5(shingle), 1, 15))::BIGINT`
  * etc., bit-identical to it (asserted against that Column formula, on
  * both eval paths, in DedupSimilaritySpec). `ha < 2^60` and
  * `hb < 2^56`, so `ha + i*hb` stays below 2^63 for every i < 112 and
  * the `% 2^60` is a plain mask: hence the `numHashes` bound.
  *
  * NULLS follow the SQL `min` the formula is written with: null
  * elements are skipped, and an input with no non-null element (or a
  * null input) yields null. Duplicated elements are harmless (min is
  * idempotent), and signatures of two shingle sets merge exactly by
  * element-wise min.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1 && numHashes <= 112,
    s"minhash: numHashes must be in [1, 112], got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash needs an array<string> argument, got $other")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val md = MinHashSig.md5.get()
    val out = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    var e = 0
    while (e < arr.numElements()) {
      if (!arr.isNullAt(e)) {
        seen = true
        val d = md.digest(arr.getUTF8String(e).getBytes)
        var hi = 0L
        var k = 0
        while (k < 8) { hi = (hi << 8) | (d(k) & 0xffL); k += 1 }
        var hb = 0L
        while (k < 15) { hb = (hb << 8) | (d(k) & 0xffL); k += 1 }
        val ha = hi >>> 4
        var i = 0
        while (i < numHashes) {
          val h = (ha + i * hb) & MinHashSig.Mask60
          if (h < out(i)) out(i) = h
          i += 1
        }
      }
      e += 1
    }
    if (seen) new GenericArrayData(out) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val md = ctx.addMutableState("java.security.MessageDigest", "minhashMd5",
        v => s"$v = org.apache.commons.codec.digest.DigestUtils.getMd5Digest();")
      val out = ctx.freshName("out")
      val seen = ctx.freshName("seen")
      val e = ctx.freshName("e")
      val d = ctx.freshName("d")
      val hi = ctx.freshName("hi")
      val ha = ctx.freshName("ha")
      val hb = ctx.freshName("hb")
      val k = ctx.freshName("k")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |long[] $out = new long[$numHashes];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |boolean $seen = false;
         |for (int $e = 0; $e < $arr.numElements(); $e++) {
         |  if ($arr.isNullAt($e)) continue;
         |  $seen = true;
         |  byte[] $d = $md.digest($arr.getUTF8String($e).getBytes());
         |  long $hi = 0L;
         |  int $k = 0;
         |  for (; $k < 8; $k++) $hi = ($hi << 8) | ($d[$k] & 0xffL);
         |  long $hb = 0L;
         |  for (; $k < 15; $k++) $hb = ($hb << 8) | ($d[$k] & 0xffL);
         |  long $ha = $hi >>> 4;
         |  for (int $i = 0; $i < $numHashes; $i++) {
         |    long $h = ($ha + $i * $hb) & ${MinHashSig.Mask60}L;
         |    if ($h < $out[$i]) $out[$i] = $h;
         |  }
         |}
         |${ev.isNull} = !$seen;
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  import org.apache.commons.codec.digest.DigestUtils
  import org.apache.spark.sql.graftbridge.Bridge

  private val Mask60: Long = (1L << 60) - 1

  // one digest per thread for the interpreted path (the generated class
  // holds its own per-instance digest)
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => DigestUtils.getMd5Digest())

  def minhash(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(shingles), numHashes))
}
