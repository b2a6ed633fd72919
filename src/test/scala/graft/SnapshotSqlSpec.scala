package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** The SQL-text DML surface (Snapshots.sql) must be a pure dispatcher
  * onto the Scala kernels: same results, same bounds-selected rewrite
  * sets, loud refusals for shapes the keyed-delta kernel cannot honor. */
class SnapshotSqlSpec extends SparkSpec {
  import spark.implicits._

  private def tempTable(): String =
    tempDir("graft_sql_spec")

  private def manifestText(dir: String, v: Long): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$dir/_manifests/v$v%08d.txt")), "UTF-8")

  /** a small clustered table: 2 partitions, ~4 key-ranged files each
    * (range-partitioned at write => every file carries a narrow recorded
    * k-bound, the shape DML rewrite selection feeds on) */
  private def seed(dir: String): Unit = {
    val df = (1 to 80).map(i => (s"p${i % 2}", i.toLong, i * 10L))
      .toDF("part", "k", "v")
      .repartitionByRange(8, col("part"), col("k"))
      .sortWithinPartitions("part", "k")
    Snapshots.commit(spark, dir, df, "part", statsColumns = Seq("k"))
  }

  private def state(dir: String): Seq[(String, Long, Long)] =
    Snapshots.read(spark, dir, "part")
      .select("part", "k", "v").as[(String, Long, Long)]
      .collect().sorted.toSeq

  test("SQL DELETE/UPDATE match the Scala kernels' results AND rewrite sets") {
    val sqlDir = tempTable(); val scDir = tempTable()
    seed(sqlDir); seed(scDir)
    val vDelSql = Snapshots.sql(spark,
      s"DELETE FROM graft_snapshot.`$sqlDir` WHERE k >= 20 AND k < 30")
      .as[Long].collect().head
    val vDelSc =
      Snapshots.delete(spark, scDir, "part", col("k") >= 20 && col("k") < 30)
    val vUpdSql = Snapshots.sql(spark,
      s"UPDATE graft_snapshot.`$sqlDir` SET v = v + 1 WHERE k < 10")
      .as[Long].collect().head
    val vUpdSc = Snapshots.update(spark, scDir, "part", col("k") < 10,
      Map("v" -> (col("v") + 1)))
    assert(vDelSql == vDelSc && vUpdSql == vUpdSc)
    assert(state(sqlDir) == state(scDir))
    // the rewrite selectivity is the same: equal carried-file counts
    // per version (file NAMES differ across tables; the count and the
    // carried/rewritten split cannot)
    def files(dir: String, v: Long): Seq[String] = manifestText(dir, v)
      .split("\n").filterNot(_.startsWith("#")).map(_.split("\t")(1)).toSeq
    Seq(vDelSql, vUpdSql).foreach { v =>
      val carriedSql = files(sqlDir, v).toSet intersect files(sqlDir, v - 1).toSet
      val carriedSc = files(scDir, v).toSet intersect files(scDir, v - 1).toSet
      assert(carriedSql.size == carriedSc.size && carriedSql.nonEmpty,
        s"v$v carried ${carriedSql.size} (sql) vs ${carriedSc.size} (scala)")
      assert(files(sqlDir, v).size == files(scDir, v).size)
    }
  }

  test("SQL MERGE upsert with a source-only tombstone DELETE clause") {
    val dir = tempTable()
    seed(dir)
    Seq(("p0", 2L, 999L, false), ("p1", 81L, 810L, false),
      ("p0", 4L, 0L, true))
      .toDF("part", "k", "v", "tomb").createOrReplaceTempView("merge_src")
    val v = Snapshots.sql(spark,
      s"""MERGE INTO graft_snapshot.`$dir` AS t
          USING (SELECT part, k, v, tomb FROM merge_src) AS s
          ON t.k = s.k
          WHEN MATCHED AND s.tomb THEN DELETE
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""").as[Long].collect().head
    val rows = Snapshots.read(spark, dir, "part", v)
      .select("k", "v").as[(Long, Long)].collect().toMap
    assert(rows(2L) == 999L, "matched upsert must land")
    assert(rows(81L) == 810L, "unmatched insert must land")
    assert(!rows.contains(4L), "tombstoned key must be deleted")
    assert(rows.size == 80 - 1 + 1, s"size ${rows.size}")
  }

  test("SQL RESTORE / CONSTRAINT / HISTORY / VACUUM round-trip") {
    val dir = tempTable()
    seed(dir)
    val before = state(dir)
    Snapshots.sql(spark, s"DELETE FROM graft_snapshot.`$dir` WHERE k <= 40")
    assert(state(dir).size == 40)
    Snapshots.sql(spark,
      s"RESTORE TABLE graft_snapshot.`$dir` TO VERSION AS OF 1")
    assert(state(dir) == before, "restore must revert the delete")
    // constraint: rejected while violating data exists, accepted after
    val e = intercept[IllegalArgumentException] {
      Snapshots.sql(spark,
        s"ALTER TABLE graft_snapshot.`$dir` ADD CONSTRAINT big CHECK (k > 1000)")
    }
    assert(e.getMessage.contains("violate"))
    Snapshots.sql(spark,
      s"ALTER TABLE graft_snapshot.`$dir` ADD CONSTRAINT pos CHECK (v >= 0)")
    assert(Snapshots.constraints(spark, dir).map(_._1) == Seq("pos"))
    val refused = intercept[Exception] {
      Snapshots.commitReplace(spark, dir,
        Seq(("p0", 999L, -5L)).toDF("part", "k", "v"), "part")
    }
    assert(refused.getMessage.contains("pos"))
    Snapshots.sql(spark,
      s"ALTER TABLE graft_snapshot.`$dir` DROP CONSTRAINT pos")
    assert(Snapshots.constraints(spark, dir).isEmpty)
    // history through SQL: op column matches the fold above
    val ops = Snapshots.sql(spark, s"DESCRIBE HISTORY graft_snapshot.`$dir`")
      .orderBy("version").select("op").as[String].collect().toSeq
    assert(ops == Seq("commit", "delete", "restore",
      "add_constraint", "drop_constraint"), ops)
    // vacuum through SQL: keep 2, earlier versions drop
    val dropped = Snapshots.sql(spark,
      s"VACUUM graft_snapshot.`$dir` RETAIN 2 VERSIONS")
      .as[Long].collect().toSeq
    assert(dropped == Seq(1L, 2L, 3L))
    assert(state(dir) == before, "the surviving head still reads intact")
  }

  test("SQL NOT NULL and UNIQUE constraints enforce at commit") {
    val dir = tempTable()
    seed(dir)
    Snapshots.sql(spark,
      s"ALTER TABLE graft_snapshot.`$dir` ALTER COLUMN v SET NOT NULL")
    Snapshots.sql(spark,
      s"ALTER TABLE graft_snapshot.`$dir` ADD CONSTRAINT uq UNIQUE (k)")
    assert(Snapshots.constraints(spark, dir).map(_._1).sorted ==
      Seq("uq", "v_not_null"))
    // NULL v refused (declared NOT NULL: NULL violates, unlike CHECK)
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.commitReplace(spark, dir,
        Seq(("p0", 999L, Option.empty[Long])).toDF("part", "k", "v"), "part")
    }
    assert(e1.getMessage.contains("v_not_null"), e1.getMessage)
    // duplicate key within a written partition refused
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.commitReplace(spark, dir,
        Seq(("p0", 5L, 1L), ("p0", 5L, 2L)).toDF("part", "k", "v"), "part")
    }
    assert(e2.getMessage.contains("uq"), e2.getMessage)
    // a clean keyed merge still lands (merge maintains key uniqueness)
    val before = state(dir).size
    Snapshots.merge(spark, dir, "part", "k",
      Seq(("p1", 81L, 810L, "U")).toDF("part", "k", "v", "op"))
    assert(state(dir).size == before + 1)
  }

  test("SQL reads of a RENAMED table serve logical names with pushed filters") {
    val dir = tempTable()
    seed(dir)
    Snapshots.renameColumn(spark, dir, "v", "w")
    val view = s"renamed_v_${math.abs(dir.hashCode)}"
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW $view
      USING graft_snapshot OPTIONS (path '$dir', partCol 'part')""")
    // logical name resolves; physical never leaks
    val got = spark.sql(
      s"SELECT part, k, w FROM $view WHERE k BETWEEN 10 AND 12")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(got ==
      (10 to 12).map(i => (s"p${i % 2}", i.toLong, i * 10L)).sorted)
    assert(intercept[Exception](
      spark.sql(s"SELECT v FROM $view").collect())
      .getMessage.nonEmpty) // old name is gone from the SQL schema
    // empty projection (count(*)) goes through the zero-column path
    assert(spark.sql(s"SELECT count(*) FROM $view").as[Long]
      .collect().head == 80L)
    // a partition-pruned count under a pushed filter
    assert(spark.sql(s"SELECT count(*) FROM $view WHERE part = 'p0'")
      .as[Long].collect().head == 40L)
  }

  test("unsupported MERGE shapes and statements refuse loudly") {
    val dir = tempTable()
    seed(dir)
    Seq(("p0", 1L, 0L)).toDF("part", "k", "v")
      .createOrReplaceTempView("merge_src2")
    def mergeWith(clauses: String) = intercept[IllegalArgumentException] {
      Snapshots.sql(spark,
        s"""MERGE INTO graft_snapshot.`$dir` AS t
            USING merge_src2 AS s ON t.k = s.k $clauses""")
    }
    // update without insert: would need matched-row tracking
    assert(mergeWith("WHEN MATCHED THEN UPDATE SET *")
      .getMessage.contains("INSERT"))
    // delete + insert WITHOUT update: matched-but-not-deleted rows would
    // need lineage to stay unchanged — refused, never silently wrong
    assert(mergeWith("WHEN MATCHED AND s.v > 0 THEN DELETE " +
      "WHEN NOT MATCHED THEN INSERT *").getMessage.contains("UPDATE SET *"))
    // explicit assignment list WITHOUT the DV opt-in: routed to the
    // row-grain kernel, which refuses with the dvEnabled pointer
    assert(mergeWith("WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *").getMessage.contains("dvEnabled"))
    // target-qualified delete condition
    assert(mergeWith("WHEN MATCHED AND t.v > 0 THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      .getMessage.contains("source"))
    // delete condition with an UNALIASED target: a bare/t-qualified
    // reference the user intends as target-side would silently resolve
    // against the source's same-named column — refused up front
    val unaliased = intercept[IllegalArgumentException] {
      Snapshots.sql(spark,
        s"""MERGE INTO graft_snapshot.`$dir`
            USING merge_src2 AS s ON k = s.k
            WHEN MATCHED AND v > 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(unaliased.getMessage.contains("ALIASED target"),
      unaliased.getMessage)
    // a qualifier that is neither the source nor the target alias would
    // be qualifier-STRIPPED by resolution and bind to the source —
    // refused, never silently evaluated on the wrong side
    assert(mergeWith("WHEN MATCHED AND zz.v > 0 THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      .getMessage.contains("qualifier"))
    // a non-DML statement
    val other = intercept[IllegalArgumentException] {
      Snapshots.sql(spark, s"SELECT * FROM graft_snapshot.`$dir`")
    }
    assert(other.getMessage.contains("unsupported statement"))
  }
}
