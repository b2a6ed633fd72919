package graft.sources

import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The SQL-TEXT surface of the [[Snapshots]] DML/DDL kernels — what lets
  * a SQL user run the table format's write path the way
  * `USING graft_snapshot` already serves its read path:
  *
  * {{{
  * Snapshots.sql(spark, "DELETE FROM graft_snapshot.`/t/orders` WHERE v < 0")
  * Snapshots.sql(spark, "UPDATE graft_snapshot.`/t/orders` SET v = v * 2 WHERE k = 7")
  * Snapshots.sql(spark, """MERGE INTO graft_snapshot.`/t/orders` AS t
  *                        USING updates_view AS s ON t.k = s.k
  *                        WHEN MATCHED AND s.tombstone THEN DELETE
  *                        WHEN MATCHED THEN UPDATE SET *
  *                        WHEN NOT MATCHED THEN INSERT *""")
  * Snapshots.sql(spark, "RESTORE TABLE graft_snapshot.`/t/orders` TO VERSION AS OF 3")
  * Snapshots.sql(spark, "ALTER TABLE graft_snapshot.`/t/orders` ADD CONSTRAINT pos CHECK (v >= 0)")
  * Snapshots.sql(spark, "ALTER TABLE graft_snapshot.`/t/orders` DROP CONSTRAINT pos")
  * Snapshots.sql(spark, "DESCRIBE HISTORY graft_snapshot.`/t/orders`")
  * Snapshots.sql(spark, "VACUUM graft_snapshot.`/t/orders` RETAIN 3 VERSIONS")
  * Snapshots.sql(spark, "OPTIMIZE graft_snapshot.`/t/orders` ZORDER BY (k)")
  * }}}
  *
  * DELETE / UPDATE / MERGE parse through SPARK'S OWN PARSER
  * (`sqlParser.parsePlan` — the exact grammar, expression syntax, and
  * precedence every Spark SQL user already knows), then dispatch onto
  * the format's metadata-selected rewrite kernels
  * ([[Snapshots.delete]]/[[Snapshots.update]]/[[Snapshots.merge]]) — so
  * the SQL path plans the SAME bounds-selected rewrite sets and commits
  * through the same OCC loop as the Scala API (spec-pinned). RESTORE /
  * ALTER ... CONSTRAINT / DESCRIBE HISTORY / VACUUM / OPTIMIZE are
  * format-specific statements outside Spark's grammar (Delta extends the
  * parser for the same five) and parse here with a small recognizer.
  *
  * The table is named `graft_snapshot.`<table dir>`` — no catalog
  * registration needed, because the manifest META HEADER records the
  * partition column since r16 (the table is self-describing; a pre-r16
  * table needs one commit under the current format first, or the
  * explicit `partCol` argument).
  *
  * MERGE routes the canonical upsert shapes (`WHEN MATCHED THEN UPDATE
  * SET *` + `WHEN NOT MATCHED THEN INSERT *`, optionally preceded by
  * `WHEN MATCHED AND <source-only predicate> THEN DELETE`, or a pure
  * `WHEN MATCHED [AND c] THEN DELETE`) onto the fast pre-reduced
  * keyed-delta kernel, and every other clause combination — explicit
  * assignment lists, conditional matched clauses, partial clause sets,
  * `WHEN NOT MATCHED BY SOURCE` — onto the row-grain deletion-vector
  * kernel ([[Snapshots.mergeRows]]; refused with a pointer when
  * `spark.graft.snapshot.dvEnabled` is off). Only `MERGE WITH SCHEMA
  * EVOLUTION` stays refused.
  *
  * Returns: DML/DDL statements -> a one-row `version` frame (the
  * committed version); DESCRIBE HISTORY -> the audit frame; VACUUM ->
  * the dropped versions.
  */
private[graft] object SnapshotSql {

  // either addressing: the path form `graft_snapshot.`<dir>`` or a
  // catalog name `<cat>.<db>.<t>` resolved through a registered
  // [[GraftCatalog]] — both capture groups appear in every statement
  // regex, exactly one non-null per match
  private val Target =
    """(?:graft_snapshot\s*\.\s*`([^`]+)`|([\w$]+\.[\w$]+\.[\w$]+))"""

  private val RestoreRe =
    s"""(?is)^\\s*RESTORE\\s+TABLE\\s+$Target\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$$""".r
  private val AddConstraintRe =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.*)\\)\\s*;?\\s*$$""".r
  private val AddUniqueRe =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+UNIQUE\\s*\\(([^)]*)\\)\\s*;?\\s*$$""".r
  private val SetNotNullRe =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+ALTER\\s+COLUMN\\s+(\\w+)\\s+SET\\s+NOT\\s+NULL\\s*;?\\s*$$""".r
  private val DropConstraintRe =
    s"""(?is)^\\s*ALTER\\s+TABLE\\s+$Target\\s+DROP\\s+CONSTRAINT\\s+(\\w+)\\s*;?\\s*$$""".r
  private val HistoryRe =
    s"""(?is)^\\s*DESCRIBE\\s+HISTORY\\s+$Target\\s*;?\\s*$$""".r
  private val VacuumRe =
    s"""(?is)^\\s*VACUUM\\s+$Target\\s+RETAIN\\s+(\\d+)\\s+VERSIONS\\s*;?\\s*$$""".r
  private val OptimizeRe =
    s"""(?is)^\\s*OPTIMIZE\\s+$Target(?:\\s+ZORDER\\s+BY\\s*\\(([^)]*)\\))?\\s*;?\\s*$$""".r

  def apply(s: SparkSession, text: String,
      partColHint: Option[String] = None): DataFrame = {
    import s.implicits._
    def versionFrame(v: Long): DataFrame = Seq(v).toDF("version")
    def pcOf(dir: String): String = partColOf(s, dir, partColHint)
    // the two Target capture groups -> a table dir (path form verbatim;
    // name form through the registered GraftCatalog's warehouse)
    def tdir(path: String, name: String): String =
      if (path != null) path
      else GraftCatalog.resolveDir(s, name.split("\\.").toSeq).getOrElse(
        refuse(s"'$name' does not resolve: its catalog is not a " +
          "registered graft.sources.GraftCatalog in this session"))
    text match {
      case RestoreRe(pd, pn, v) =>
        val dir = tdir(pd, pn)
        versionFrame(Snapshots.restore(s, dir, pcOf(dir), v.toLong))
      case AddConstraintRe(pd, pn, name, exprSql) =>
        val dir = tdir(pd, pn)
        versionFrame(
          Snapshots.addConstraintRetry(s, dir, pcOf(dir), name, exprSql.trim))
      case AddUniqueRe(pd, pn, name, cols) =>
        val dir = tdir(pd, pn)
        versionFrame(Snapshots.addUniqueConstraint(s, dir, pcOf(dir), name,
          cols.split(",").toSeq.map(_.trim).filter(_.nonEmpty)))
      case SetNotNullRe(pd, pn, column) =>
        val dir = tdir(pd, pn)
        versionFrame(Snapshots.addNotNullConstraint(s, dir, pcOf(dir),
          s"${column}_not_null", column))
      case DropConstraintRe(pd, pn, name) =>
        versionFrame(Snapshots.dropConstraintRetry(s, tdir(pd, pn), name))
      case HistoryRe(pd, pn) =>
        Snapshots.history(s, tdir(pd, pn))
      case VacuumRe(pd, pn, keep) =>
        Snapshots.vacuum(s, tdir(pd, pn), keep.toInt).toDF("dropped_version")
      case OptimizeRe(pd, pn, zorder) =>
        val dir = tdir(pd, pn)
        val cluster = Option(zorder).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        versionFrame(
          Snapshots.optimize(s, dir, pcOf(dir), clusterBy = cluster))
      case _ =>
        s.sessionState.sqlParser.parsePlan(text) match {
          case DeleteFromTable(table, condition) =>
            val dir = targetDir(s, table)
            versionFrame(Snapshots.delete(s, dir, pcOf(dir),
              toColumn(condition)))
          case UpdateTable(table, assignments, condition) =>
            val dir = targetDir(s, table)
            val sets = assignments.map {
              case Assignment(k: UnresolvedAttribute, v) =>
                k.nameParts.last -> toColumn(v)
              case other => refuse(
                s"UPDATE SET target ${other.key.sql} is not a plain column")
            }.toMap
            versionFrame(Snapshots.update(s, dir, pcOf(dir),
              condition.map(toColumn).getOrElse(lit(true)), sets))
          case m: MergeIntoTable => mergeSql(s, m, partColHint)
          case other => refuse(
            s"unsupported statement for the snapshot SQL surface: " +
              s"${other.nodeName} (DELETE / UPDATE / MERGE / RESTORE / " +
              "ALTER TABLE ADD|DROP CONSTRAINT / DESCRIBE HISTORY / " +
              "VACUUM / OPTIMIZE)")
        }
    }
  }

  private def refuse(msg: String): Nothing =
    throw new IllegalArgumentException(s"Snapshots.sql: $msg")

  /** the statement's target table, either addressing (possibly
    * aliased): `graft_snapshot.`<dir>`` — the two-part identifier keeps
    * the path byte-exact through Spark's parser — or `<cat>.<db>.<t>`
    * through a registered [[GraftCatalog]] */
  private def targetDir(s: SparkSession, p: LogicalPlan): String = p match {
    case SubqueryAlias(_, child) => targetDir(s, child)
    case r: UnresolvedRelation => r.multipartIdentifier match {
      case Seq("graft_snapshot", dir) => dir
      case parts => GraftCatalog.resolveDir(s, parts).getOrElse(refuse(
        s"target must be graft_snapshot.`<table dir>` or a " +
          s"<catalog>.<db>.<table> name under a registered GraftCatalog, " +
          s"got ${parts.mkString(".")}"))
    }
    case other => refuse(s"cannot resolve DML target from ${other.nodeName}")
  }

  private def partColOf(s: SparkSession, dir: String,
      hint: Option[String]): String = {
    val cur = Snapshots.currentVersion(s, dir)
    require(cur >= 1, s"Snapshots.sql: no committed table at $dir")
    Snapshots.readManifest(s, dir, cur).partCol.orElse(hint).getOrElse(refuse(
      s"the manifest at $dir predates the recorded partition column — " +
        "recommit the table once under the current format, or pass " +
        "partCol explicitly"))
  }

  /** DML predicates/values arrive as UNRESOLVED expressions whose
    * attributes may carry the statement's table qualifier (`t.x`);
    * the kernels resolve them against the bare table schema, so strip
    * qualifiers down to the column name (top-level columns only — the
    * format's stats/DML layer operates at that grain anyway) */
  private def toColumn(e: Expression): Column =
    Bridge.column(e.transform {
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    })

  private def mergeSql(s: SparkSession, m: MergeIntoTable,
      partColHint: Option[String]): DataFrame = {
    import s.implicits._
    if (m.withSchemaEvolution)
      refuse("MERGE WITH SCHEMA EVOLUTION is not supported — add columns " +
        "via a full-snapshot commit")
    val dir = targetDir(s, m.targetTable)
    val partCol = partColOf(s, dir, partColHint)
    // ON t.k = s.k [AND t.k2 = s.k2 ...] — a conjunction of equalities
    // whose two sides name the SAME column (the kernels' key identity);
    // anything fancier (expressions, cross-named equalities) refuses
    def keyOf(e: Expression): Seq[String] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        keyOf(l) ++ keyOf(r)
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last == b.nameParts.last => Seq(a.nameParts.last)
      case other => refuse(
        s"MERGE ON must be a conjunction of t.<key> = s.<key> equalities " +
          s"(same column name each), got " + other.sql)
    }
    val keys = keyOf(m.mergeCondition).distinct
    val key = keys.head
    // two kernels behind one statement. The CANONICAL full-upsert shapes
    // ([DELETE AND c,] UPDATE SET * + INSERT *, or DELETE-only) run on
    // the pre-reduced keyed-delta kernel — fast-pathed, no row lineage
    // needed. Everything else (assignment lists, conditional UPDATE,
    // partial clause sets) is a ROW-grain merge: it needs matched-row
    // addressability, which deletion vectors provide — routed to
    // Snapshots.mergeRows when spark.graft.snapshot.dvEnabled is set,
    // refused with that pointer when not.
    val canonical = m.notMatchedBySourceActions.isEmpty &&
      keys.size == 1 &&
      ((m.matchedActions, m.notMatchedActions) match {
        case (Seq(DeleteAction(_), UpdateStarAction(None)),
          Seq(InsertStarAction(None))) => true
        case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None))) => true
        case (Seq(DeleteAction(_)), Seq()) => true
        case _ => false
      })
    if (!canonical) return mergeRowsSql(s, m, dir, partCol, keys)
    val (delCond: Option[Option[Expression]], hasUpdate) = m.matchedActions match {
      case Seq(DeleteAction(c), UpdateStarAction(None)) => (Some(c), true)
      case Seq(UpdateStarAction(None)) => (None, true)
      case Seq(DeleteAction(c)) => (Some(c), false)
      case other => refuse(s"unreachable: $other")
    }
    val source = Bridge.ofRows(s, m.sourceTable)
    // op per source row: delete-condition rows -> 'D'; the rest -> 'U'
    // (full upsert) or dropped (DELETE-only merge folds deletions alone).
    // The delete condition must be decidable from the SOURCE row itself:
    // it may reference source columns only (Delta's CDC-fold shape,
    // `WHEN MATCHED AND s.tombstone THEN DELETE`) — a TARGET-qualified
    // reference would silently resolve against the source's same-named
    // column after qualifier stripping, so refuse it by alias.
    val targetAlias = m.targetTable match {
      case SubqueryAlias(id, _) => Some(id.name)
      case _ => None
    }
    val sourceAlias = m.sourceTable match {
      case SubqueryAlias(id, _) => Some(id.name)
      case _ => None
    }
    if (delCond.flatten.nonEmpty && targetAlias.isEmpty) refuse(
      "MERGE with a matched DELETE condition needs an ALIASED target " +
        "(MERGE INTO graft_snapshot.`dir` AS t ...) — without the alias " +
        "a reference the user intends as target-side would silently " +
        "resolve against the source's same-named column and delete the " +
        "wrong rows (bare column names bind to the SOURCE row)")
    delCond.flatten.foreach { c =>
      val (targetRefs, unknownRefs) = {
        val multi = c.collect {
          case a: UnresolvedAttribute if a.nameParts.length > 1 => a
        }
        (multi.filter(a => targetAlias.contains(a.nameParts.head)).map(_.sql),
         multi.filter(a => !targetAlias.contains(a.nameParts.head) &&
           !sourceAlias.contains(a.nameParts.head)).map(_.sql))
      }
      if (targetRefs.nonEmpty) refuse(
        s"MERGE delete condition references target column(s) " +
          s"${targetRefs.mkString(", ")} — it must be decidable from the " +
          "source row alone (the format records no matched-row lineage)")
      // an unknown qualifier would be silently STRIPPED and the bare
      // name resolved against the source — with upsert sources nearly
      // always sharing the target's column names, that evaluates the
      // condition on the wrong side with no error; refuse instead
      if (unknownRefs.nonEmpty) refuse(
        s"MERGE delete condition references ${unknownRefs.mkString(", ")} " +
          s"whose qualifier is neither the source alias" +
          s"${sourceAlias.fold("")(a => s" ('$a')")} nor the target " +
          s"alias${targetAlias.fold("")(a => s" ('$a')")} — qualify by " +
          "the source alias or use a bare source column name")
    }
    val op: Column = delCond match {
      case None => lit("U")
      case Some(c) =>
        val cond = c.map(toColumn).getOrElse(lit(true))
        if (hasUpdate) when(cond, "D").otherwise("U")
        else when(cond, "D").otherwise(null) // non-matching rows fold to nothing
    }
    val delta = source.withColumn("op", op).filter(col("op").isNotNull)
    Seq(Snapshots.merge(s, dir, partCol, key, delta)).toDF("version")
  }

  /** the NON-canonical MERGE shapes — assignment lists
    * (`UPDATE SET col = expr`), conditional UPDATE clauses, UPDATE
    * without INSERT, DELETE + INSERT — dispatched onto the row-grain
    * deletion-vector kernel [[Snapshots.mergeRows]] (which refuses,
    * with the pointer, when `spark.graft.snapshot.dvEnabled` is off).
    * Expression rewriting: `s.x` -> the joined frame's `__src_x`,
    * `t.x` and bare `x` -> the target's `x`; an unknown qualifier
    * refuses rather than silently binding to the wrong side. */
  private def mergeRowsSql(s: SparkSession, m: MergeIntoTable, dir: String,
      partCol: String, keys: Seq[String]): DataFrame = {
    import s.implicits._
    val targetAlias = m.targetTable match {
      case SubqueryAlias(id, _) => Some(id.name)
      case _ => None
    }
    val sourceAlias = m.sourceTable match {
      case SubqueryAlias(id, _) => Some(id.name)
      case _ => None
    }
    val schema = Snapshots.tableSchema(s, dir)
    val source = Bridge.ofRows(s, m.sourceTable)
    val srcCols = source.columns.toSet
    // partCol is a SPEC STRING ("day:date,region") — the target's
    // column set needs the parsed NAMES, not the raw spec (review-caught:
    // the raw string let a shared partition-column name silently bind
    // to the source side on typed/multi-column tables)
    val targetCols = schema.fieldNames.toSet ++
      PartSpec.parse(partCol).names
    def mergeCol(e: Expression): Column = Bridge.column(e.transform {
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        if (sourceAlias.contains(a.nameParts.head))
          UnresolvedAttribute(Seq(s"__src_${a.nameParts.last}"))
        else if (targetAlias.contains(a.nameParts.head))
          UnresolvedAttribute(Seq(a.nameParts.last))
        else refuse(
          s"MERGE expression references ${a.sql} whose qualifier is " +
            s"neither the source alias${sourceAlias.fold("")(x => s" ('$x')")}" +
            s" nor the target alias${targetAlias.fold("")(x => s" ('$x')")}")
      case a: UnresolvedAttribute
          if targetCols(a.name) && srcCols(a.name) =>
        // a bare name both sides carry is AMBIGUOUS — and worse than
        // ambiguous here: the canonical kernel evaluates bare delete
        // conditions on the SOURCE row, so silently binding the target
        // would flip semantics when a statement moves between kernels.
        // Spark's own MERGE throws AMBIGUOUS_REFERENCE for this; so do we.
        refuse(s"MERGE expression references bare '${a.name}', which " +
          "exists on BOTH sides — qualify it by the source or target alias")
      case a: UnresolvedAttribute
          if srcCols(a.name) && !targetCols(a.name) =>
        UnresolvedAttribute(Seq(s"__src_${a.name}"))
      // a target-only bare name stays as-is and resolves on the joined
      // frame's target columns
    })
    val actions: Seq[Snapshots.MergeAction] = m.matchedActions.map {
      case UpdateAction(cond, assigns, _) =>
        val set = assigns.map {
          case Assignment(k: UnresolvedAttribute, v) =>
            val name = k.nameParts.last
            if (!schema.fieldNames.contains(name)) refuse(
              s"UPDATE SET target '$name' is not a table column")
            name -> mergeCol(v)
          case other => refuse(
            s"UPDATE SET target ${other.key.sql} is not a plain column")
        }.toMap
        Snapshots.MergeUpdate(cond.map(mergeCol), set)
      case UpdateStarAction(cond) =>
        Snapshots.MergeUpdate(cond.map(mergeCol),
          schema.fieldNames.toSeq.map(f => f -> col(s"__src_$f")).toMap)
      case DeleteAction(cond) => Snapshots.MergeDelete(cond.map(mergeCol))
      case other => refuse(
        s"unsupported MERGE matched clause ${other.getClass.getSimpleName}")
    }
    val insert = m.notMatchedActions match {
      case Seq(InsertStarAction(None)) => true
      case Seq() => false
      case other => refuse(
        "MERGE not-matched clause must be WHEN NOT MATCHED THEN INSERT * " +
          s"or absent; got ${other.map(_.getClass.getSimpleName).mkString(", ")}")
    }
    // WHEN NOT MATCHED BY SOURCE clauses see the TARGET row alone —
    // a source-qualified or source-only reference is meaningless there
    // (no source row exists for an unmatched target row) and must
    // refuse rather than resolve to a column the joined frame lacks
    def bySourceCol(e: Expression): Column = Bridge.column(e.transform {
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        if (targetAlias.contains(a.nameParts.head))
          UnresolvedAttribute(Seq(a.nameParts.last))
        else refuse(
          s"WHEN NOT MATCHED BY SOURCE references ${a.sql} — these " +
            "clauses see the target row alone (no source row exists " +
            "for an unmatched target row); qualify by the target alias" +
            targetAlias.fold("")(x => s" ('$x')") + " or use bare " +
            "target column names")
      case a: UnresolvedAttribute
          if srcCols(a.name) && !targetCols(a.name) =>
        refuse(s"WHEN NOT MATCHED BY SOURCE references source-only " +
          s"column '${a.name}' — these clauses see the target row alone")
    })
    val bySource: Seq[Snapshots.MergeAction] =
      m.notMatchedBySourceActions.map {
        case UpdateAction(cond, assigns, _) =>
          val set = assigns.map {
            case Assignment(k: UnresolvedAttribute, v) =>
              val name = k.nameParts.last
              if (!schema.fieldNames.contains(name)) refuse(
                s"UPDATE SET target '$name' is not a table column")
              name -> bySourceCol(v)
            case other => refuse(
              s"UPDATE SET target ${other.key.sql} is not a plain column")
          }.toMap
          Snapshots.MergeUpdate(cond.map(bySourceCol), set)
        case DeleteAction(cond) =>
          Snapshots.MergeDelete(cond.map(bySourceCol))
        case other => refuse(
          s"unsupported MERGE not-matched-by-source clause " +
            other.getClass.getSimpleName)
      }
    Seq(Snapshots.mergeRowsKeys(s, dir, partCol, keys, source, actions,
      insert, bySource = bySource)).toDF("version")
  }
}
