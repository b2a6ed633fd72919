package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Name-addressed tables through the DSv2 GraftCatalog: DDL via Spark's
  * own CREATE/DROP/SHOW, reads (incl. time travel) planning the exact
  * manifest-served scan the path form plans, and Snapshots.sql DML
  * accepting both addressings. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val d = tempDir("graft_catalog_spec")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", d)
    d
  }

  private def seed(db: String, t: String): String = {
    val dir = s"$wh/$db/$t"
    spark.sql(s"CREATE TABLE graft.$db.$t (part STRING, k BIGINT, v BIGINT) " +
      "PARTITIONED BY (part)")
    Snapshots.commit(spark, dir,
      (1L to 80L).map(k => (s"p${k % 4}", k, k * 10L)).toDF("part", "k", "v"),
      "part", statsColumns = Seq("k"))
    dir
  }

  test("CREATE / read / time travel / SHOW / DROP by name") {
    val dir = seed("db1", "t1")
    // v1 = the empty CREATE commit, v2 = the data
    assert(Snapshots.currentVersion(spark, dir) == 2L)
    assert(spark.sql("SELECT sum(v) AS s FROM graft.db1.t1")
      .as[Long].head() == (1L to 80L).map(_ * 10).sum)
    // filters reach the scan through the name exactly like the path form
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db1.t1 WHERE part = 'p1' AND k <= 40")
      .as[Long].head() == 10L)
    // time travel: VERSION AS OF the empty CREATE commit
    assert(spark.sql("SELECT count(*) AS n FROM graft.db1.t1 VERSION AS OF 1")
      .as[Long].head() == 0L)
    // TIMESTAMP AS OF after the last commit resolves the latest version
    assert(spark.sql("SELECT count(*) AS n FROM graft.db1.t1 " +
      "TIMESTAMP AS OF '2035-01-01 00:00:00'").as[Long].head() == 80L)
    assert(spark.sql("SHOW TABLES IN graft.db1").collect()
      .map(_.getString(1)).toSet == Set("t1"))
    spark.sql("DROP TABLE graft.db1.t1")
    assert(Snapshots.currentVersion(spark, dir) == 0L,
      "DROP must remove the table directory")
  }

  test("a name-addressed read plans the SAME manifest scan as the path read") {
    val dir = seed("db2", "t2")
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val byName = spark.sql(
      "SELECT k, v FROM graft.db2.t2 WHERE part = 'p2' AND k < 50")
    val byPath = Snapshots.read(spark, dir, "part")
      .filter(col("part") === "p2" && col("k") < 50).select("k", "v")
    val (pn, pp) = (planOf(byName), planOf(byPath))
    assert(pn.contains("ManifestFileIndex"),
      s"name read must plan the manifest file index, got:\n$pn")
    // identical physical shape: one FileSourceScan, same pushed filters,
    // same partition filters (strip exprIds via regex for the compare)
    def shape(p: String): String =
      p.replaceAll("#\\d+L?", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
    assert(shape(pn) == shape(pp),
      s"plans diverge between addressings:\nname: $pn\npath: $pp")
    assert(byName.as[(Long, Long)].collect().sorted.toSeq ==
      byPath.as[(Long, Long)].collect().sorted.toSeq)
  }

  test("INSERT INTO appends by reference; INSERT OVERWRITE replaces; CDF sees the append") {
    val dir = seed("db4", "t4")
    def files(v: Long): Set[String] =
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        f"$dir/_manifests/v$v%08d.txt")), "UTF-8")
        .split("\n").filterNot(_.startsWith("#")).map(_.split("\t")(1)).toSet
    val v0 = Snapshots.currentVersion(spark, dir)
    spark.sql("INSERT INTO graft.db4.t4 VALUES (900, 9000, 'p9'), (901, 9010, 'p9')")
    val v1 = Snapshots.currentVersion(spark, dir)
    assert(v1 == v0 + 1, "INSERT INTO must commit exactly one version")
    assert(files(v0).subsetOf(files(v1)),
      "append must carry every existing file by reference")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db4.t4")
      .as[Long].head() == 82L)
    // the appended rows recorded bounds (auto-collect default): a
    // bounds-proven-empty DELETE over the new partition must no-op
    assert(Snapshots.delete(spark, dir, "part",
      col("part") === "p9" && col("k") > 5000L) == v1,
      "appended files must carry k bounds for DML selection")
    // the change feed dates the appended partition to the append commit
    val d = Snapshots.diff(spark, dir, "part", v0, v1)
    assert(d.filter(col("change") === "added").count() == 2L &&
      d.filter(col("change") === "removed").count() == 0L, "append CDF")
    // a ZERO-row INSERT is a legal commit, not the empty-table refusal
    val vEmptyBefore = Snapshots.currentVersion(spark, dir)
    spark.sql("INSERT INTO graft.db4.t4 SELECT k, v, part FROM graft.db4.t4 WHERE k < 0")
    assert(Snapshots.currentVersion(spark, dir) == vEmptyBefore + 1)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db4.t4")
      .as[Long].head() == 82L)
    // INSERT OVERWRITE = a full-snapshot replace
    spark.sql("INSERT OVERWRITE graft.db4.t4 VALUES (1, 10, 'p0')")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db4.t4")
      .as[Long].head() == 1L)
    // time travel still serves the pre-overwrite state
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.db4.t4 VERSION AS OF $v1")
      .as[Long].head() == 82L)
  }

  test("Snapshots.sql accepts the catalog name addressing for DML and DDL") {
    seed("db3", "t3")
    // DELETE by name == DELETE by path (kernel identity)
    val v = Snapshots.sql(spark,
      "DELETE FROM graft.db3.t3 WHERE k <= 20").as[Long].head()
    assert(v == 3L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db3.t3")
      .as[Long].head() == 60L)
    // UPDATE by name
    Snapshots.sql(spark, "UPDATE graft.db3.t3 SET v = v + 1 WHERE k = 21")
    assert(spark.sql("SELECT v FROM graft.db3.t3 WHERE k = 21")
      .as[Long].head() == 211L)
    // MERGE with a name target
    Seq(("p1", 21L, 0L, true), ("p0", 1000L, 1L, false))
      .toDF("part", "k", "v", "tomb").createOrReplaceTempView("cat_src")
    Snapshots.sql(spark,
      """MERGE INTO graft.db3.t3 AS t USING cat_src AS s ON t.k = s.k
         WHEN MATCHED AND s.tomb THEN DELETE
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""")
    val ks = spark.sql("SELECT k FROM graft.db3.t3")
      .as[Long].collect().toSet
    assert(!ks.contains(21L) && ks.contains(1000L))
    // recognizer statements by name: HISTORY, RESTORE, OPTIMIZE
    assert(Snapshots.sql(spark, "DESCRIBE HISTORY graft.db3.t3")
      .count() >= 5L)
    Snapshots.sql(spark, "RESTORE TABLE graft.db3.t3 TO VERSION AS OF 2")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db3.t3")
      .as[Long].head() == 80L)
    // an unregistered catalog name refuses loudly
    val e = intercept[IllegalArgumentException] {
      Snapshots.sql(spark, "DELETE FROM nope.db.t WHERE k = 1")
    }
    assert(e.getMessage.contains("GraftCatalog"), e.getMessage)
  }

  test("CREATE TABLE PARTITIONED BY (day, region) — typed multi-column identity through DDL") {
    locally(wh) // touch wh first: registers the catalog conf
    spark.sql("CREATE TABLE graft.db6.t6 " +
      "(day DATE, region STRING, k BIGINT, v BIGINT) " +
      "PARTITIONED BY (day, region)")
    // the table's resolved schema orders data columns first, then the
    // partition columns (the HadoopFsRelation convention)
    spark.sql("INSERT INTO graft.db6.t6 VALUES " +
      "(1, 10, DATE'2024-01-01', 'eu'), (2, 20, DATE'2024-01-01', 'us'), " +
      "(3, 30, DATE'2024-01-02', 'eu')")
    // typed read-back + typed partition pruning by name
    assert(spark.sql("SELECT sum(v) AS s FROM graft.db6.t6 " +
      "WHERE day = DATE'2024-01-01'").as[Long].head() == 30L)
    assert(spark.table("graft.db6.t6").schema("day").dataType ==
      org.apache.spark.sql.types.DateType)
    // the catalog reports the ordered identity transforms
    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db6"), "t6"))
    assert(t.partitioning().map(_.toString).toSeq ==
      Seq("identity(day)", "identity(region)"))
    // DML by name parses the spec from the manifest header
    Snapshots.sql(spark,
      "DELETE FROM graft.db6.t6 WHERE region = 'us'")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db6.t6")
      .as[Long].head() == 2L)
    // a non-identity transform is refused loudly
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.db6.tbad (day DATE, k BIGINT) " +
        "PARTITIONED BY (days(day))")
    }
    assert(e.getMessage.contains("identity"), e.getMessage)
  }

  test("ALTER TABLE by name routes onto the metadata-only evolution kernels") {
    val dir = seed("db7", "t7")
    val v0 = Snapshots.currentVersion(spark, dir)
    // ADD COLUMN: metadata-only, carried files read back NULL
    spark.sql("ALTER TABLE graft.db7.t7 ADD COLUMN note STRING")
    assert(Snapshots.currentVersion(spark, dir) == v0 + 1)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db7.t7 " +
      "WHERE note IS NULL").as[Long].head() == 80L)
    // RENAME COLUMN: files keep the physical name, reads serve the new
    spark.sql("ALTER TABLE graft.db7.t7 RENAME COLUMN v TO amount")
    assert(spark.sql("SELECT sum(amount) AS s FROM graft.db7.t7")
      .as[Long].head() == (1L to 80L).map(_ * 10).sum)
    // DROP COLUMN: the field leaves the schema
    spark.sql("ALTER TABLE graft.db7.t7 DROP COLUMN note")
    assert(!spark.table("graft.db7.t7").columns.contains("note"))
    // refusals: positions, NOT NULL adds, type changes
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.db7.t7 ADD COLUMN z STRING FIRST")
    }
    assert(e1.getMessage.contains("position"), e1.getMessage)
    // type changes refuse before the catalog is even reached (Spark's
    // own capability check — narrowing BIGINT->INT is unsupported)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.db7.t7 ALTER COLUMN amount TYPE INT")
    }
    assert(e2.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      e2.getMessage)
    // renaming a partition column stays refused through the DDL route
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE graft.db7.t7 RENAME COLUMN part TO p2")
    }
    assert(e3.getMessage.contains("partition"), e3.getMessage)
  }

  test("writeStream.toTable lands exactly-once epoch commits by name") {
    val dir = seed("db8", "t8")
    val ckpt = tempDir("graft_totable_ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Long)]
    val v0 = Snapshots.currentVersion(spark, dir)
    def start() = mem.toDF().toDF("part", "k", "v")
      .select(col("k"), col("v"), col("part")) // table column order
      .writeStream
      .option("checkpointLocation", ckpt)
      .toTable("graft.db8.t8")
    mem.addData(("p9", 1000L, 1L), ("p9", 1001L, 2L))
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(Snapshots.currentVersion(spark, dir) == v0 + 1,
      "one epoch = one appended version")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db8.t8")
      .as[Long].head() == 82L)
    // existing files carried by reference; epoch files land under the
    // stream staging dir and are manifest-referenced
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$dir/_manifests/v${v0 + 1}%08d.txt")),
      "UTF-8")
    assert(manifest.contains("v00000000_stream_"), "epoch files recorded")
    assert(manifest.contains(s"txnBatch=0"), "epoch txn stamp recorded")
    // the streamed entries carry REAL [min,max] bounds — tracked row by
    // row in the writer tasks, zero footer IO (k in [1000,1001] this
    // epoch; rows may split across task files, so assert per-line
    // k-bounds presence inside that range rather than one exact cell)
    val streamedLines = manifest.split("\n")
      .filter(l => l.contains("v00000000_stream_") && !l.startsWith("#"))
    assert(streamedLines.nonEmpty)
    streamedLines.foreach { l =>
      val m = "k=(100[01]),(100[01])".r.findFirstIn(l)
      assert(m.isDefined, s"streamed entry must record k bounds: $l")
    }
    // restart from the same checkpoint: the replayed epoch no-ops and
    // new data lands exactly once
    mem.addData(("p9", 1002L, 3L))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.sql("SELECT count(*) AS n FROM graft.db8.t8")
      .as[Long].head() == 83L)
    assert(spark.sql("SELECT sum(v) AS s FROM graft.db8.t8 " +
      "WHERE part = 'p9'").as[Long].head() == 6L,
      "no epoch may double-apply across the restart")
    // the streamed rows read back through the normal manifest scan
    assert(spark.sql("SELECT count(*) AS n FROM graft.db8.t8 " +
      "WHERE part = 'p9' AND k >= 1000").as[Long].head() == 3L)
    // vacuum: committed epoch files under the stream staging dir are
    // manifest-referenced and must SURVIVE the file-grain walk
    Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db8.t8")
      .as[Long].head() == 83L,
      "vacuum must keep referenced streamed-epoch files")
    // a tab-bearing partition value refuses at the epoch commit (the
    // line-oriented manifest cannot carry it) — the query fails loudly
    // instead of landing a torn manifest
    val ckpt2 = tempDir("graft_totable_ckpt2")
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Long)]
    mem2.addData(("a\tb", 1L, 1L))
    val q3 = mem2.toDF().toDF("part", "k", "v")
      .select(col("k"), col("v"), col("part"))
      .writeStream.option("checkpointLocation", ckpt2)
      .toTable("graft.db8.t8")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    q3.stop()
    assert(e.getMessage.contains("tab") ||
      Option(e.getCause).exists(_.getMessage.contains("tab")), e.getMessage)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db8.t8")
      .as[Long].head() == 83L, "the refused epoch must land nothing")
  }

  test("TBLPROPERTIES flow through DDL: SET/UNSET and create-time stamping") {
    val dir = seed("db10", "t1")
    spark.sql("ALTER TABLE graft.db10.t1 SET TBLPROPERTIES " +
      "('graft.dv.enabled' = 'true', 'team.owner' = 'data-eng')")
    val props = Snapshots.tableProperties(spark, dir)
    assert(props("graft.dv.enabled") == "true" &&
      props("team.owner") == "data-eng")
    // the catalog surfaces them (SHOW TBLPROPERTIES reads this map)
    val shown = spark.sql("SHOW TBLPROPERTIES graft.db10.t1")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("graft.dv.enabled").contains("true"))
    // and the per-table DV gate is live through SQL DML by name —
    // no session conf set anywhere in this suite
    val before = Snapshots.currentVersion(spark, dir)
    Snapshots.sql(spark, "DELETE FROM graft.db10.t1 WHERE k = 5")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$dir/_manifests/v${before + 1}%08d.txt")),
      "UTF-8").contains("minReader=2"),
      "the table-property DV gate must mask through the SQL surface")
    spark.sql("ALTER TABLE graft.db10.t1 UNSET TBLPROPERTIES " +
      "('team.owner')")
    assert(!Snapshots.tableProperties(spark, dir).contains("team.owner"))
    // create-time stamping: graft.* TBLPROPERTIES land on the new table
    spark.sql("CREATE TABLE graft.db10.t2 (part STRING, k BIGINT) " +
      "PARTITIONED BY (part) " +
      "TBLPROPERTIES ('graft.bloom.columns' = 'k')")
    assert(Snapshots.tableProperties(spark, s"$wh/db10/t2")
      .get("graft.bloom.columns").contains("k"))
  }

  test("CREATE TABLE AS SELECT lands schema + data in one statement") {
    val dir = s"$wh/db9/t9"
    spark.sql("CREATE TABLE graft.db9.t9 PARTITIONED BY (part) AS " +
      "SELECT id AS k, id * 10 AS v, CAST(id % 3 AS STRING) AS part " +
      "FROM range(30)")
    // v1 = the empty CREATE, v2 = the SELECT's rows appended
    assert(Snapshots.currentVersion(spark, dir) == 2L)
    assert(spark.sql("SELECT sum(v) AS s FROM graft.db9.t9")
      .as[Long].head() == (0L until 30L).map(_ * 10).sum)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db9.t9 " +
      "WHERE part = '1'").as[Long].head() == 10L)
    // typed multi-column CTAS
    spark.sql("CREATE TABLE graft.db9.t10 PARTITIONED BY (day, region) AS " +
      "SELECT id AS k, DATE'2024-01-01' + CAST(id % 2 AS INT) AS day, " +
      "CASE WHEN id % 2 = 0 THEN 'eu' ELSE 'us' END AS region " +
      "FROM range(20)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db9.t10 " +
      "WHERE day = DATE'2024-01-02'").as[Long].head() == 10L)
    // a CTAS without PARTITIONED BY refuses with the pointed error
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.db9.tbad AS SELECT 1 AS x")
    }
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }

  test("parser-path name resolution refuses components that escape the warehouse") {
    seed("db5", "t5")
    // backticked traversal / metadata-dir components reach resolveDir
    // through Spark's parser (the Target regex never matches them, but
    // DELETE/UPDATE route through UnresolvedRelation's multipart
    // identifier) — they must hit the SAME safe() wall as DDL names
    for (bad <- Seq("DELETE FROM graft.`..`.`..` WHERE true",
        "DELETE FROM graft.db5.`_manifests` WHERE true",
        "UPDATE graft.`a/b`.t5 SET v = 0 WHERE true")) {
      val e = intercept[IllegalArgumentException] {
        Snapshots.sql(spark, bad)
      }
      assert(e.getMessage.contains("illegal name component"),
        s"$bad -> ${e.getMessage}")
    }
    // the legal name still resolves after the guard
    assert(Snapshots.sql(spark,
      "DELETE FROM graft.db5.t5 WHERE k = 1").count() >= 0L)
  }
}
