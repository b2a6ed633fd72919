package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, ExpressionInfo, Literal, Md5, Substring}
import org.apache.spark.sql.types.{BinaryType, LongType}
import graft.functions.{AsciiSum, CosineSim}

/** Library entry point for Spark's extension mechanism: register the
  * engine's native Catalyst expressions on any session via
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * so `graft_asciisum` / `graft_cosine` resolve in plain SQL on a cluster
  * that has the graft jar on its classpath — no per-session registration
  * calls. (The reference wires its extension point, the app registry
  * `app_route.py:4-6`, by editing source; this is the Spark-native
  * equivalent surface.) Every session built with it also serves `file:`
  * through the engine's no-fork local filesystem (sources/LocalFs.scala).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name, usage)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_asciisum"),
      info("graft_asciisum",
        "graft_asciisum(str) - sum of the UTF-8 bytes of str (the reference partitioner hash)"),
      (exprs: Seq[Expression]) => AsciiSum(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      info("graft_cosine",
        "graft_cosine(a, b) - cosine similarity of two float/double arrays"),
      (exprs: Seq[Expression]) => CosineSim(exprs.head, exprs(1))))
    // the portable 60-bit hash every sketch/sampler hangs off
    // (graft.Exact.h60) — exposed in SQL as a composition of built-ins,
    // so its DuckDB twin ('0x'||substr(md5(s),1,15))::BIGINT stays a
    // provable mirror of what SQL users call
    ext.injectFunction((
      FunctionIdentifier("graft_h60"),
      info("graft_h60",
        "graft_h60(str) - portable 60-bit hash: first 15 md5 hex chars as a positive bigint"),
      GraftExtensions.h60Builder))
    // the GraftCatalog V2->V1 substitution: a catalog-resolved snapshot
    // table (DataSourceV2Relation over GraftTable) becomes the SAME
    // manifest-served V1 relation the path surface plans — reads through
    // `graft.<db>.<t>` names get identical FileSourceScan plans
    // (sources/GraftCatalog.scala). POST-HOC, not in the resolution
    // batch: a fixed-point rule traverses every plan once per analyzer
    // iteration, which benched as a ~3% tax across the whole registry
    // (plan-heavy iterative queries worst); post-hoc runs ONCE per
    // query, after resolution and before checkAnalysis — early enough
    // that the capability check never sees the V2 marker, late enough
    // that time travel and every reference are already resolved. The
    // rule additionally no-ops until a GraftCatalog has initialized in
    // this JVM (no catalog -> no GraftTable can exist in any plan).
    // The rule factory runs once per session state, before the session's
    // first query is analyzed: the one point where the extension sees
    // the session, so it also installs the no-fork local filesystem
    // (sources/LocalFs.scala) on the session's SparkContext.
    ext.injectPostHocResolutionRule { session =>
      graft.sources.LocalFs.install(session.sparkContext.hadoopConfiguration)
      new graft.sources.GraftCatalog.V1FallbackRule(session)
    }
  }
}

object GraftExtensions {
  /** The exact expression tree graft_h60 registers — public so tests
    * evaluate THIS builder (registration drift would otherwise go
    * unnoticed: a hand-copied tree in the test would keep passing). */
  val h60Builder: Seq[Expression] => Expression = exprs =>
    Cast(Conv(Substring(Md5(Cast(exprs.head, BinaryType)),
      Literal(1), Literal(15)), Literal(16), Literal(10)), LongType)
}
