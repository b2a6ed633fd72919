package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** NAME-addressed access to [[Snapshots]] tables — a DataSource V2
  * [[TableCatalog]] (the surface every real table format ships; Delta's
  * `DeltaCatalog` is the model) so SQL users write
  *
  * {{{
  * SET spark.sql.catalog.graft = graft.sources.GraftCatalog;
  * SET spark.sql.catalog.graft.warehouse = /tables;
  * CREATE TABLE graft.sales.orders (region STRING, k BIGINT, v BIGINT)
  *   PARTITIONED BY (region);
  * SELECT * FROM graft.sales.orders VERSION AS OF 3;
  * SELECT * FROM graft.sales.orders TIMESTAMP AS OF '2026-01-01 00:00:00';
  * }}}
  *
  * instead of the power-user path form ``graft_snapshot.`/tables/...` ``
  * (which keeps working everywhere — [[Snapshots.sql]] accepts both
  * addressings for its DML/DDL statements).
  *
  * Layout: a table `graft.<db>.<t>` IS the snapshot directory
  * `<warehouse>/<db>/<t>` — the catalog holds NO state of its own
  * (no metastore): namespaces are directories, a table exists iff its
  * `_manifests` dir holds a committed version, and everything the
  * catalog reports (schema, partition column, time travel) is read from
  * the manifests, which are already the single source of truth. The
  * warehouse root is re-read from the session conf on every call, so a
  * long-lived session can repoint it without a catalog reload.
  *
  * READ PLANNING IS IDENTICAL TO THE PATH FORM: `loadTable` returns a
  * [[GraftTable]] that pins a version and resolves the SAME V1
  * relation [[Snapshots.relationAt]] serves everywhere else, and the
  * [[GraftCatalog.V1FallbackRule]] analyzer rule (injected by
  * `graft.GraftExtensions`) substitutes the analyzer's
  * DataSourceV2Relation with a LogicalRelation over it — one
  * FileSourceScan over the manifest-served file index, with partition
  * pruning, parquet pushdown, and per-file bounds skipping
  * (PlanShapeSpec pins plan equality against the path read). This is
  * Delta's exact architecture: its catalog also hands the analyzer a
  * marker table that analysis rules rewrite into the real scan.
  *
  * Writes: `INSERT INTO graft.db.t` appends through the V1 write
  * fallback ([[Snapshots.append]] — new files by reference-carry, the
  * same OCC manifest commit as every other write, bounds auto-collected
  * task-side) and `INSERT OVERWRITE` is a full-snapshot replace;
  * `CREATE TABLE ... PARTITIONED BY (...) AS SELECT` composes the two
  * (createEmpty + append, spec-pinned); `writeStream.toTable` lands
  * exactly-once epoch commits through [[GraftStreamingWrite]]; ALTER
  * TABLE routes onto the metadata-only evolution kernels
  * ([[alterTable]]); DML (DELETE/UPDATE/MERGE/...) goes through
  * [[Snapshots.sql]], which accepts either addressing. A
  * non-transactional path write around the manifest protocol is never
  * planned. */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var initWarehouse: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initWarehouse = Option(options.get("warehouse"))
    GraftCatalog.anyLoaded.set(true)
  }

  override def name(): String = catalogName

  private def session: SparkSession = SparkSession.active

  private def warehouse: String =
    session.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")
      .orElse(initWarehouse)
      .getOrElse(throw new IllegalArgumentException(
        s"GraftCatalog '$catalogName': set " +
          s"spark.sql.catalog.$catalogName.warehouse to the directory " +
          "that holds <namespace>/<table> snapshot dirs"))

  /** names ARE directory names — refuse anything that would escape the
    * warehouse tree or collide with the format's metadata dirs */
  private def safe(part: String): String = GraftCatalog.safePart(part)

  private def identParts(ident: Identifier): Seq[String] =
    (catalogName +: ident.namespace.toSeq) :+ ident.name

  private def dirOf(ident: Identifier): String = {
    require(ident.namespace.length == 1,
      s"GraftCatalog: expected <namespace>.<table>, got $ident")
    s"$warehouse/${safe(ident.namespace.head)}/${safe(ident.name)}"
  }

  private def fs = new Path(warehouse)
    .getFileSystem(session.sparkContext.hadoopConfiguration)

  private def isTable(dir: String): Boolean =
    Snapshots.currentVersion(session, dir) >= 1

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (namespace.length != 1) throw new NoSuchNamespaceException(namespace)
    val nsDir = new Path(s"$warehouse/${safe(namespace.head)}")
    if (!fs.exists(nsDir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(nsDir).toSeq
      .filter(st => st.isDirectory && isTable(st.getPath.toString))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    val v = Snapshots.currentVersion(session, dir)
    if (v < 1) throw new NoSuchTableException(identParts(ident))
    GraftTable(session, ident, dir, v)
  }

  /** `VERSION AS OF n` */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    require(version.nonEmpty && version.forall(_.isDigit),
      s"GraftCatalog: VERSION AS OF wants the numeric snapshot version, " +
        s"got '$version'")
    if (Snapshots.currentVersion(session, dir) < 1)
      throw new NoSuchTableException(identParts(ident))
    GraftTable(session, ident, dir, version.toLong)
  }

  /** `TIMESTAMP AS OF t` — Spark hands MICROseconds since the epoch;
    * resolve through the same latest-at-or-before rule as the path
    * surface's `timestampAsOf` option */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    if (Snapshots.currentVersion(session, dir) < 1)
      throw new NoSuchTableException(identParts(ident))
    GraftTable(session, ident, dir,
      Snapshots.versionAt(session, dir, Math.floorDiv(timestamp, 1000L)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : Table = {
    val dir = dirOf(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(
      identParts(ident))
    val partCol = partitions.toSeq match {
      case Seq() => Option(properties.get("partCol")).getOrElse(
        throw new IllegalArgumentException(
          "GraftCatalog: a snapshot table needs its partition column(s) — " +
            "PARTITIONED BY (cols...) or TBLPROPERTIES (partCol 'spec')"))
      case transforms =>
        // an ORDERED list of identity transforms (`PARTITIONED BY
        // (day, region)`): each must be a schema field of a type whose
        // string form round-trips through a directory name — the typed
        // multi-column partition identity [[PartSpec]] carries
        val fields = transforms.map {
          case t if t.name == "identity" && t.references.length == 1 =>
            val name = t.references.head.fieldNames.head
            require(schema.fieldNames.contains(name),
              s"GraftCatalog: partition column '$name' is not a field " +
                "of the schema")
            schema(name)
          case other => throw new IllegalArgumentException(
            s"GraftCatalog: only identity partition transforms are " +
              s"supported, got $other")
        }
        PartSpec.fromFields(fields).encode
    }
    Snapshots.createEmpty(session, dir, schema, partCol)
    // TBLPROPERTIES: the format's own keys (graft.*) stamp as table
    // properties right after the create (Spark adds reserved
    // provider/owner entries of its own — those stay catalog-side)
    properties.asScala.filter(_._1.startsWith("graft."))
      .toSeq.sortBy(_._1).foreach { case (k, v) =>
        Snapshots.setTableProperty(session, dir, k, v)
      }
    loadTable(ident)
  }

  /** ALTER TABLE through Spark's own DDL, routed onto the format's
    * existing metadata-only kernels — each change is ITS OWN manifest
    * commit (a version per evolution step, like Delta), never a bypass
    * of the protocol. Supported: RENAME/ADD/DROP COLUMN, ADD/DROP
    * CONSTRAINT ... CHECK. Everything else (type changes, nullability,
    * positions, defaults, properties) refuses with the reason the
    * format refuses it. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) throw new NoSuchTableException(identParts(ident))
    def single(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"GraftCatalog: $what supports top-level columns only, got " +
          fieldNames.mkString("."))
      fieldNames.head
    }
    // VALIDATE EVERY CHANGE BEFORE APPLYING ANY: each change lands as
    // its own manifest version, so without the up-front pass a
    // multi-change statement (ALTER TABLE ... ADD COLUMNS (a INT,
    // b INT NOT NULL)) would half-apply — the first column committed,
    // the second refused, no rollback. The shape/flag checks here are
    // the statically decidable refusals; a kernel-level race (e.g. a
    // concurrent writer taking the name) can still fail mid-sequence,
    // which the per-version history at least makes visible.
    changes.foreach {
      case a: TableChange.AddColumn =>
        single(a.fieldNames, "ADD COLUMN")
        require(a.isNullable,
          "GraftCatalog: an added column must be nullable — existing " +
            "rows cannot satisfy NOT NULL (backfill via a full-snapshot " +
            "commit instead)")
        require(a.position == null,
          "GraftCatalog: column positions are not supported (parquet " +
            "resolves by name; order is outside the schema contract)")
        require(a.defaultValue == null,
          "GraftCatalog: column defaults are not supported — existing " +
            "rows read back NULL for an added column")
      case r: TableChange.RenameColumn =>
        single(r.fieldNames, "RENAME COLUMN"): Unit
      case d: TableChange.DeleteColumn =>
        single(d.fieldNames, "DROP COLUMN"): Unit
      case _: TableChange.AddConstraint | _: TableChange.DropConstraint |
           _: TableChange.SetProperty | _: TableChange.RemoveProperty =>
        ()
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog: unsupported ALTER (${other.getClass.getSimpleName})" +
          " — type changes and drops of carried data require a " +
          "full-snapshot commit")
    }
    changes.foreach {
      case r: TableChange.RenameColumn =>
        Snapshots.renameColumn(session, dir,
          single(r.fieldNames, "RENAME COLUMN"), r.newName)
      case d: TableChange.DeleteColumn =>
        val name = single(d.fieldNames, "DROP COLUMN")
        try Snapshots.dropColumn(session, dir, name)
        catch {
          // DROP COLUMN IF EXISTS: an absent column is a silent no-op
          // (ifExists is a boxed Boolean — null-safe compare)
          case e: IllegalArgumentException
              if java.lang.Boolean.TRUE.equals(d.ifExists) &&
                e.getMessage != null && e.getMessage.contains("no column")
            => ()
        }
      case a: TableChange.AddColumn =>
        Snapshots.addColumn(session, dir,
          single(a.fieldNames, "ADD COLUMN"), a.dataType)
      case c: TableChange.AddConstraint =>
        c.constraint match {
          case chk: org.apache.spark.sql.connector.catalog
              .constraints.Check =>
            val m = Snapshots.readManifest(session, dir,
              Snapshots.currentVersion(session, dir))
            val pc = m.partCol.getOrElse(throw new IllegalArgumentException(
              s"GraftCatalog: the manifest at $dir predates the recorded " +
                "partition column"))
            Snapshots.addConstraint(session, dir, pc, chk.name,
              chk.predicateSql)
          case other => throw new UnsupportedOperationException(
            s"GraftCatalog: only CHECK constraints are supported, got " +
              other.toDDL)
        }
      case dcn: TableChange.DropConstraint =>
        try Snapshots.dropConstraint(session, dir, dcn.name)
        catch {
          case e: IllegalArgumentException if dcn.ifExists &&
              e.getMessage != null && e.getMessage.contains("no constraint")
            => ()
        }
      // ALTER TABLE ... SET/UNSET TBLPROPERTIES — the per-table knob
      // surface (graft.dv.enabled, graft.bloom.columns, ...); each
      // lands as a metadata-only version
      case sp: TableChange.SetProperty =>
        Snapshots.setTableProperty(session, dir, sp.property, sp.value)
      case rp: TableChange.RemoveProperty =>
        Snapshots.removeTableProperty(session, dir, rp.property)
      case other => throw new UnsupportedOperationException(
        s"GraftCatalog: unsupported ALTER (${other.getClass.getSimpleName})")
    }
    Snapshots.invalidateCaches(dir)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    val existed = isTable(dir)
    if (existed) {
      fs.delete(new Path(dir), true)
      Snapshots.invalidateCaches(dir)
    }
    existed
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "GraftCatalog: RENAME TABLE is not supported — the directory IS " +
        "the table identity (move the directory and re-address)")

  // ---- namespaces = first-level warehouse directories ----

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(st => Array(st.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      fs.exists(new Path(s"$warehouse/${safe(namespace.head)}"))

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Map("location" -> s"$warehouse/${namespace.head}").asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      s"GraftCatalog: single-level namespaces only, got " +
        namespace.mkString("."))
    fs.mkdirs(new Path(s"$warehouse/${safe(namespace.head)}"))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "GraftCatalog: namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val p = new Path(s"$warehouse/${safe(namespace.head)}")
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"GraftCatalog: namespace ${namespace.head} is not empty")
    fs.delete(p, true)
  }
}

object GraftCatalog {
  /** set the first time ANY GraftCatalog initializes in this JVM — the
    * [[V1FallbackRule]] no-ops until then: before a catalog exists no
    * plan can hold a [[GraftTable]], so sessions that never touch the
    * name surface pay zero analysis overhead */
  private[sources] val anyLoaded =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** one name component of a table identifier, validated — refuses
    * anything that would escape the warehouse tree (`..`, separators)
    * or collide with the format's metadata dirs (`_`-prefixed). BOTH
    * resolution paths (the catalog's `dirOf` and the parser-path
    * [[resolveDir]] below) run through this, so `graft.`..`.`..``-style
    * DML targets are refused the same way DDL ones are. */
  private[sources] def safePart(part: String): String = {
    require(part.nonEmpty && !part.contains("/") && !part.contains("\\") &&
      part != "." && part != ".." && !part.startsWith("_"),
      s"GraftCatalog: illegal name component '$part'")
    part
  }

  /** `<cat>.<db>.<t>` -> the snapshot dir, iff `<cat>` is a registered
    * GraftCatalog in this session — how [[Snapshots.sql]] accepts the
    * name addressing next to the path addressing */
  private[sources] def resolveDir(s: SparkSession,
      parts: Seq[String]): Option[String] = parts match {
    case Seq(cat, db, t)
        if s.conf.getOption(s"spark.sql.catalog.$cat")
          .contains(classOf[GraftCatalog].getName) =>
      val wh = s.conf.getOption(s"spark.sql.catalog.$cat.warehouse")
        .getOrElse(throw new IllegalArgumentException(
          s"GraftCatalog '$cat': spark.sql.catalog.$cat.warehouse is unset"))
      Some(s"$wh/${safePart(db)}/${safePart(t)}")
    case _ => None
  }

  /** The analyzer substitution that makes a catalog read plan EXACTLY
    * like a path read: DataSourceV2Relation(GraftTable) becomes a
    * LogicalRelation over the table's pinned V1 relation, REUSING the
    * V2 relation's attribute ids (operators above have already resolved
    * against them). Injected by `graft.GraftExtensions`.
    *
    * WRITE TARGETS are untouched by construction: `resolveOperatorsUp`
    * walks CHILDREN, and a V2 write command (AppendData /
    * OverwriteByExpression) holds its target as the `table` FIELD, not
    * a child — only its `query` subtree is traversed. So the INSERT
    * path keeps its DataSourceV2Relation and resolves through
    * [[GraftTable]]'s V1 write fallback, while every read-side
    * occurrence (which IS a child of its consumer) substitutes. Do not
    * "simplify" this rule to a raw transform over all fields. */
  final class V1FallbackRule(session: SparkSession)
      extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (!GraftCatalog.anyLoaded.get) plan
      else plan.resolveOperatorsUp {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
          Bridge.logicalRelation(
            r.table.asInstanceOf[GraftTable].relation, r.output)
      }
  }
}

/** One catalog-resolved snapshot table PINNED at a version — the marker
  * the analyzer hands around until [[GraftCatalog.V1FallbackRule]]
  * substitutes the real scan. The V1 relation resolves EAGERLY at load
  * so schema inference, the substitution, and execution all see one
  * immutable version (snapshot isolation — same rule as the
  * `USING graft_snapshot` view surface).
  *
  * WRITES go through the V1 write fallback (`V1_BATCH_WRITE`), so
  * `INSERT INTO graft.db.t ...` is [[Snapshots.append]] — new files +
  * one manifest line each, every existing file carried by reference,
  * committed through the same OCC manifest protocol as every other
  * write (never a path write around it) — and
  * `INSERT OVERWRITE graft.db.t ...` is a full-snapshot replace. Both
  * record per-column bounds via the writer-task stats path. */
final case class GraftTable(spark: SparkSession, ident: Identifier,
    dir: String, snapshotVersion: Long)
    extends Table with org.apache.spark.sql.connector.catalog.SupportsWrite {

  /** the SAME relation every other read surface plans
    * ([[Snapshots.relationAt]]): manifest-served file index, zero
    * listings, zero footer reads */
  val relation: org.apache.spark.sql.sources.BaseRelation = {
    val partCol = Snapshots.readManifest(spark, dir, snapshotVersion)
      .partCol.getOrElse(throw new IllegalArgumentException(
        s"GraftCatalog: the manifest at $dir predates the recorded " +
          "partition column — recommit the table once under the current " +
          "format"))
    Snapshots.relationAt(spark, dir, partCol, snapshotVersion)
  }

  private val partCol: String =
    Snapshots.readManifest(spark, dir, snapshotVersion).partCol.get

  override def name(): String = ident.toString

  override def schema(): StructType = relation.schema

  override def partitioning(): Array[Transform] =
    PartSpec.parse(partCol).names
      .map(Expressions.identity).toArray[Transform]

  override def properties(): util.Map[String, String] =
    (Snapshots.tableProperties(spark, dir) ++
      Map("location" -> dir, "partCol" -> partCol,
        "version" -> snapshotVersion.toString)).asJava

  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.V1_BATCH_WRITE)
    s.add(TableCapability.TRUNCATE)
    s.add(TableCapability.STREAMING_WRITE)
    s
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, ow: Boolean) => {
              if (overwrite || ow)
                Snapshots.commit(spark, dir, data, partCol,
                  statsColumns = Snapshots.supportedStatsColumns(
                    Snapshots.tableSchema(spark, dir)))
              else Snapshots.append(spark, dir, data, partCol)
              ()
            }
          // `writeStream.toTable("graft.db.t")` — the exactly-once
          // epoch-committing streaming sink (see GraftStreamingWrite)
          override def toStreaming: org.apache.spark.sql.connector
              .write.streaming.StreamingWrite =
            new GraftStreamingWrite(spark, dir, partCol,
              info.queryId(), info.schema())
        }
    }
}
