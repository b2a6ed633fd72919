package graft

import org.apache.spark.sql.functions._

/** Cross-cutting engine invariants. */
class InvariantsSpec extends SparkSpec {
  import spark.implicits._

  test("registry: q_-prefixed unique names; every query has an oracle") {
    val names = SparkEntry.defs.map(_.name)
    assert(names.distinct.length == names.length, "duplicate query names")
    assert(names.forall(_.startsWith("q_")), names.filterNot(_.startsWith("q_")))
    val noOracle = SparkEntry.defs.filter(_.oracle.isEmpty).map(_.name)
    assert(noOracle.isEmpty, s"rows-only checks remain: $noOracle")
  }

  test("family = file: the layout queries are exactly Layout.defs") {
    val layout = operators.Layout.defs.map(_.name)
    assert(layout.forall(_.startsWith("q_layout_")),
      layout.filterNot(_.startsWith("q_layout_")))
    val registered = SparkEntry.defs.map(_.name).filter(_.startsWith("q_layout_"))
    assert(registered.sorted == layout.sorted,
      s"q_layout_ queries outside Layout.defs: ${registered.diff(layout)}")
  }

  test("oracle hygiene: every FROM/JOIN reference resolves to a CTE or base table") {
    // Guards against oracle-string construction bugs (the r11 val-init
    // ordering slip glued a Scala null into the CTE chain: the SQL
    // read "nullm AS (... FROM h6 ...)" with h0..h6 silently missing —
    // Spark-side specs can't see oracle text, so this lint is the only
    // sbt-test-time tripwire).
    val baseTables = Set("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "events", "documents", "embeddings")
    val tableFns = Set("range", "unnest", "generate_series", "read_parquet")
    val defRe = """(?m)(\w+)\s+AS\s+(?:MATERIALIZED\s+)?\(""".r
    val refRe = """(?i)(?:FROM|JOIN)\s+([a-zA-Z_]\w*)""".r
    val problems = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        val defined = defRe.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
        refRe.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSeq.distinct
          .filterNot(defined)
          .filterNot(baseTables)
          .filterNot(tableFns)
          .map(ref => s"$name: unresolved relation '$ref'")
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("source hygiene: no driver-side collect loops or Scala UDFs in engine code") {
    // the two anti-patterns that silently de-distribute an operator:
    // .collect() (driver-side iteration) and udf() (kills codegen).
    // Allowlist: Bench's untimed JIT warm-up, and Snapshots' two
    // commit-time METADATA aggregates (merge's per-partition delta key
    // span and the per-written-file stats rows) — both bounded by
    // manifest size, not data size, and both land IN the driver-held
    // manifest, which is the one legitimately driver-sided structure a
    // table format has (Delta's commit path has the same shape).
    // Count()-style aggregates-to-driver stay legal (a single scalar,
    // not data).
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    // SnapshotSource's one collect materializes the DESCRIBE HISTORY
    // relation — O(surviving versions) audit rows, manifest metadata
    // like Snapshots' own two
    // MetaBench is a MEASUREMENT main (its collects consume 1-row
    // aggregates to compare the branches it benchmarks), not engine code
    val collectAllow = Set("Bench.scala", "Snapshots.scala",
      "SnapshotSource.scala", "MetaBench.scala")
    // .take( on Scala collections (not Datasets) is fine; these files use
    // it on Array[Byte]/Seq/String only. A Dataset .take anywhere else
    // fails. (GraftStreamingWrite truncates a UUID string for file names.)
    val takeAllow = Set("Bench.scala", "Multimodal.scala",
      "TopKAggregator.scala", "GraftStreamingWrite.scala")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val name = p.getFileName.toString
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.flatMap {
          case (line, i) =>
            val l = line.trim
            if (l.startsWith("//") || l.startsWith("*")) None
            else if (l.contains(".collect()") && !collectAllow(name))
              Some(s"$p:${i + 1} .collect() — driver-side loop in engine code")
            else if ((l.contains(".head()") || l.contains(".first()")) &&
              !collectAllow(name))
              Some(s"$p:${i + 1} .head()/.first() — driver-side materialization")
            else if (l.contains(".take(") && !takeAllow(name))
              Some(s"$p:${i + 1} .take( — driver-side materialization " +
                "(Scala-collection .take needs a takeAllow entry)")
            else if (l.matches(""".*\budf\s*\(.*"""))
              Some(s"$p:${i + 1} Scala UDF — use a builtin or Catalyst expression")
            else None
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("h60 is always in [0, 2^60) — positive in a signed long") {
    val vals = sources.Tables.documents(spark, sf)
      .select(Exact.h60(col("text")).as("h"))
      .agg(min("h"), max("h")).head()
    assert(vals.getLong(0) >= 0L)
    assert(vals.getLong(1) < (1L << 60))
  }

  test("SQL-registered graft_cosine equals the column-API CosineSim") {
    functions.CosineSim.register(spark)
    sources.Tables.embeddings(spark, sf).limit(50)
      .createOrReplaceTempView("inv_emb")
    val viaSql = spark.sql(
      """SELECT a.vec_id, b.vec_id, graft_cosine(a.embedding, b.embedding) AS c
        |FROM inv_emb a JOIN inv_emb b ON a.vec_id < b.vec_id""".stripMargin)
      .as[(Long, Long, Double)].collect().toMap2
    val viaApi = sources.Tables.embeddings(spark, sf).limit(50).as("a")
      .join(sources.Tables.embeddings(spark, sf).limit(50).as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        functions.VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .as[(Long, Long, Double)].collect().toMap2
    assert(viaSql == viaApi)
  }

  private implicit class Tup3Ops(rows: Array[(Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), Double] =
      rows.map(r => (r._1, r._2) -> r._3).toMap
  }
}
