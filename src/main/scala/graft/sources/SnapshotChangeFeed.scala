package graft.sources

import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}

/** The STREAMING consumer of the [[Snapshots]] change feed — a
  * Structured Streaming source whose offsets ARE snapshot version
  * numbers and whose micro-batches are [[Snapshots.diff]] steps:
  *
  * {{{
  * spark.readStream.format("graft_snapshot_cdf")
  *   .option("path", dir).option("partCol", "region")
  *   .load()  // table columns + partCol + change + _commit_version + _commit_timestamp
  * }}}
  *
  * Batch (a, b] = the union over v in (a, b] of version v's change set
  * (the from-state of data-changed partitions labeled 'removed', the
  * to-state labeled 'added', each stamped `_commit_version = v`) — so
  * ANY batching of the version range folds to the same feed
  * (batching-invariance by construction, pinned in
  * StreamingRobustnessSpec), and a checkpointed restart replans the same
  * (a, b] bit-identically from the IMMUTABLE manifests — exactly-once
  * with a transactional sink. A pure [[Snapshots.optimize]] compaction
  * carries `dataVersion`, so it emits NOTHING here (dataChange=false),
  * and the query's very first served version arrives as a full 'added'
  * snapshot (the initial-load convention Delta's change feed uses) —
  * except under an explicit `startingVersion` whose predecessor is
  * still live, which serves DELTAS ONLY from there (Delta's
  * startingVersion rule; fold-from-empty consumers want the default).
  *
  * Deliberately a DataSource V1 [[Source]] — `getBatch` returns a
  * DataFrame, so each step IS the manifest-served one-scan plan the
  * batch reads use (partition pruning, bounds skipping, zero listings),
  * streaming-tagged per the engine's contract. This is Delta's own
  * choice for DeltaSource, for the same reason: a V2 MicroBatchStream
  * would have to reimplement parquet reading row by row inside a
  * PartitionReader for strictly less plan integration.
  *
  * Options: `path` + `partCol` (required); `startingVersion` = first
  * version to serve (default: the earliest surviving one);
  * `maxVersionsPerBatch` = admission control, versions per trigger.
  *
  * Contracts a consumer must hold (both fail loudly, never silently):
  *  - RETENTION COVERS LAG — a version inside a planned-or-replayed
  *    range that [[Snapshots.vacuum]] retired aborts the batch (the same
  *    rule Delta documents for vacuumed streaming reads);
  *  - the feed's schema is fixed per query INCARNATION (the stream
  *    serves every version under it; pre-evolution files null-fill
  *    added columns). A RESTART re-resolves it from the table's current
  *    manifest, so after an add-column evolution the SAME checkpoint
  *    continues under the widened schema with exact totals — no manual
  *    re-seed (pinned in StreamingRobustnessSpec); a rename mid-stream
  *    likewise serves the old logical names until restart.
  */
class SnapshotChangeFeedSource extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft_snapshot_cdf"

  private def parse(parameters: Map[String, String])
      : (String, String, Option[Long], Option[Long], Option[String]) = {
    def opt(k: String): Option[String] =
      parameters.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }
    def req(k: String): String = opt(k).getOrElse(throw new IllegalArgumentException(
      s"graft_snapshot_cdf: option '$k' is required"))
    val rowLevel = opt("rowLevel").exists(_.equalsIgnoreCase("true"))
    val keyCol = opt("keyCol")
    if (rowLevel && keyCol.isEmpty) throw new IllegalArgumentException(
      "graft_snapshot_cdf: rowLevel=true needs keyCol (the row-image " +
        "join key — the format records no row lineage)")
    (req("path"), req("partCol"),
      opt("startingVersion").map(_.toLong),
      opt("maxVersionsPerBatch").map(_.toLong),
      if (rowLevel) keyCol else None)
  }

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : (String, StructType) = {
    val (dir, partCol, _, _, _) = parse(parameters)
    (shortName(),
      SnapshotCdfSource.feedSchema(ctx.sparkSession, dir, partCol))
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val (dir, partCol, startingVersion, maxPerBatch, keyCol) = parse(parameters)
    new SnapshotCdfSource(ctx.sparkSession, dir, partCol, startingVersion,
      maxPerBatch, Some(metadataPath), keyCol)
  }
}

object SnapshotCdfSource {
  /** the table's CURRENT recorded schema + the feed columns — resolved
    * once; the stream serves every version under it */
  private[sources] def feedSchema(s: SparkSession, dir: String,
      partCol: String): StructType = {
    val cur = Snapshots.currentVersion(s, dir)
    require(cur >= 1,
      s"graft_snapshot_cdf: no committed version at $dir — the change feed " +
        "needs an existing table")
    val m = Snapshots.readManifest(s, dir, cur)
    val dataSchema = m.schema.getOrElse(
      s.read.parquet(m.entries.head.path).schema)
    StructType(dataSchema.fields.toSeq
      ++ PartSpec.parse(partCol).struct.fields
      :+ StructField("change", StringType, nullable = false)
      :+ StructField("_commit_version", LongType, nullable = false)
      // the manifest's recorded commit wall-clock (epoch millis) —
      // Delta CDF's _commit_timestamp; null for a manifest without a
      // meta header (none are written anymore)
      :+ StructField("_commit_timestamp", LongType, nullable = true))
  }
}

class SnapshotCdfSource(spark: SparkSession, dir: String, partCol: String,
    startingVersion: Option[Long], maxVersionsPerBatch: Option[Long],
    metadataPath: Option[String] = None,
    /** Some(keyCol) switches the feed to ROW-LEVEL images (Delta CDF's
      * insert / delete / update_preimage / update_postimage in `change`):
      * each version's step is [[Snapshots.rowEvents]] over the changed
      * partitions' two pinned states — rows that merely rode along in a
      * rewritten partition are suppressed, and the join shuffles only
      * the changed partitions' rows on the key. The initial snapshot
      * arrives as 'insert' rows (Delta's initial-load convention). */
    rowKeyCol: Option[String] = None)
    extends Source {

  override val schema: StructType =
    SnapshotCdfSource.feedSchema(spark, dir, partCol)
  private val partSpec = PartSpec.parse(partCol)
  /** the feed's fixed DATA schema — the trailing fields are the
    * appended partition column(s) plus the
    * change/_commit_version/_commit_timestamp feed columns */
  private val dataSchema =
    StructType(schema.fields.toSeq.dropRight(3 + partSpec.cols.size))

  rowKeyCol.foreach(k => require(dataSchema.fieldNames.contains(k),
    s"graft_snapshot_cdf: keyCol '$k' is not a table column " +
      s"(${dataSchema.fieldNames.mkString(", ")})"))

  /** `base` = the offset BEFORE the first served version (the served
    * range is always (base, latest]); `initialSnapshotAt` = the ONE
    * version this query incarnation may serve as a full 'added' snapshot:
    * the earliest surviving version when no startingVersion was given,
    * or an explicit startingVersion whose PREDECESSOR no longer exists
    * (a delta cannot be computed, so the full state is the only
    * consistent start). An explicit startingVersion with a live
    * predecessor serves DELTAS ONLY from there — Delta's startingVersion
    * rule; consumers who fold from empty state want the default.
    *
    * PERSISTED in the query's source-metadata dir at FIRST start
    * (Delta's initial-snapshot pin, via the V1 Source metadataPath that
    * exists for exactly this): a restart that replays the very first
    * batch (crash after the offset-log write, before the commit-log
    * write) arrives with start=None, and a base recomputed from the
    * THEN-current live set could silently serve a DIFFERENT initial
    * snapshot if vacuum retired versions in the originally planned range
    * — breaking exactly-once for append-style sinks. With the recorded
    * pin, the replay re-plans the ORIGINAL range; a vacuumed version in
    * it aborts loudly (the retention-covers-lag contract), never
    * silently re-seeds. A torn/garbled pin file fails loudly too — it is
    * correctness-bearing, unlike the table's advisory hint. */
  private val (base: Long, initialSnapshotAt: Option[Long]) = {
    def compute(): (Long, Option[Long]) = {
      val live = Snapshots.liveVersions(spark, dir)
      require(live.nonEmpty, s"graft_snapshot_cdf: no committed version at $dir")
      startingVersion match {
        case Some(sv) =>
          (sv - 1L, if (live.contains(sv - 1L)) None else Some(sv))
        case None => (live.min - 1L, Some(live.min))
      }
    }
    def readPin(fs: org.apache.hadoop.fs.FileSystem,
        pin: org.apache.hadoop.fs.Path): (Long, Option[Long]) = {
      val in = fs.open(pin)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      text.split("\t", -1) match {
        case Array(b, i) if b.nonEmpty =>
          (b.toLong, if (i == "-") None else Some(i.toLong))
        case _ => throw new IllegalStateException(
          s"graft_snapshot_cdf: corrupt source pin $pin ('$text') — " +
            "the recorded initial-snapshot base is unreadable; delete " +
            "the checkpoint to re-seed the stream")
      }
    }
    metadataPath match {
      case None => compute() // direct construction (tests) — no pin dir
      case Some(mp) =>
        val fs = new org.apache.hadoop.fs.Path(mp)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val pin = new org.apache.hadoop.fs.Path(mp, "graft_cdf_base")
        if (fs.exists(pin)) readPin(fs, pin)
        else {
          val v = compute()
          // atomic create-or-refuse (Snapshots' commit-point primitives):
          // a crash mid-write can never leave a torn pin, and a racing
          // source re-creation (zombie + replacement driver on one
          // checkpoint) can never CLOBBER the original pin — POSIX
          // rename would replace it silently and the first driver's
          // already-served batch 0 would disagree with the surviving pin
          val created = Snapshots.createExclusive(fs, pin,
            s"${v._1}\t${v._2.map(_.toString).getOrElse("-")}"
              .getBytes("UTF-8"))
          if (created) v
          else readPin(fs, pin) // the racer's pin rules
        }
    }
  }

  /** high-water mark of served batches — admission control's cursor (a
    * restart re-primes it from the first replayed batch's end) */
  @volatile private var served: Long = base

  private def off(o: Any): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other: org.apache.spark.sql.connector.read.streaming.Offset =>
      other.json().trim.toLong
  }

  override def getOffset: Option[V1Offset] = {
    val cur = Snapshots.currentVersion(spark, dir)
    val from = math.max(base, served)
    if (cur <= from) {
      // nothing new: report the high-water mark (a stable offset), or
      // None before anything has ever been available
      if (from > base) Some(LongOffset(from)) else None
    } else {
      // admission control: at most maxVersionsPerBatch versions advance
      // per trigger. `served` is primed by every getBatch — including
      // the engine's restore call on a checkpointed restart — so the
      // reported offset can never regress below a batch already served.
      val capped = maxVersionsPerBatch
        .map(m => math.min(cur, from + math.max(1L, m))).getOrElse(cur)
      Some(LongOffset(capped))
    }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val a = start.map(off).getOrElse(base)
    val b = off(end)
    served = math.max(served, math.max(a, b))
    val live = Snapshots.liveVersions(spark, dir).toSet
    def gone(v: Long): Nothing = throw new IllegalStateException(
      s"graft_snapshot_cdf: version $v in batch ($a, $b] was retired by " +
        "vacuum — the retention window must exceed the consumer's lag " +
        "(re-seed the stream with a fresh startingVersion)")
    // every version's files are served under the STREAM's fixed schema
    // in the STREAM's fixed column order (the engine grafts each batch
    // into one plan: schemas must agree batch over batch); older files
    // simply null-fill later-added columns. The feed columns are per-file
    // constants of the scan (Snapshots.scanStamped), so a batch of any
    // number of versions is ONE scan, and no commit's version or
    // timestamp becomes a literal in the generated code.
    def stamp(label: Option[String], v: Long, ts: Option[Long]): Seq[String] =
      label.toSeq ++ Seq(v.toString, ts.map(_.toString).orNull)
    val feedCols = StructType(schema.fields.takeRight(3))
    // the version's stamp without `change`: a row-level step derives it
    val versionCols = StructType(feedCols.fields.drop(1))
    /** one row-level step: [[Snapshots.rowEvents]] over the two pinned
      * states of version v's changed partitions, both stamped with v (so
      * every image carries it). `streaming` is false here: the step
      * holds a keyed full-outer JOIN, which must compile through the
      * normal batch planner (a streaming-tagged pair would plan as a
      * watermark-requiring stream-stream join) and is re-tagged once, at
      * the end, via Bridge.streamingFrame. */
    def rowStep(removed: Seq[Snapshots.Entry], added: Seq[Snapshots.Entry],
        v: Long, ts: Option[Long]): DataFrame = {
      def st(entries: Seq[Snapshots.Entry]) =
        Snapshots.scanStamped(spark, partCol, dataSchema,
          Seq(entries -> stamp(None, v, ts)), versionCols, streaming = false)
      Snapshots.rowEvents(st(removed), st(added), rowKeyCol.get)
        .select(schema.fieldNames.toSeq.map(col): _*)
    }
    // one manifest read per version in the range: step v's to-manifest
    // is step v+1's from-manifest. Each version yields its removed and
    // added entries.
    var prevM: Option[(Long, Snapshots.Manifest)] = None
    val steps = (a + 1 to b).map { v =>
      if (!live.contains(v)) gone(v)
      val mT = Snapshots.readManifest(spark, dir, v)
      val (removed, added) =
        if (start.isEmpty && v == a + 1 && initialSnapshotAt.contains(v)) {
          // the query's very FIRST batch may open with the configured
          // initial snapshot. `base`/`initialSnapshotAt` are PINNED in
          // the source metadata dir at first start, so a start=None
          // REPLAY of that batch (crash between offset-log and
          // commit-log writes) re-plans the ORIGINAL snapshot version —
          // if vacuum retired it meanwhile, the live-set check above
          // already aborted loudly rather than silently serving a
          // different initial state. A restart at any LATER offset
          // arrives with start=Some(...) — its consumer has folded
          // state through that offset, so a missing predecessor there
          // is a RETENTION GAP (vacuum outran the consumer) and aborts
          // below, never conflated with an initial load that would
          // re-deliver the whole table as 'added'.
          // initial full snapshot: 'added' at partition grain, 'insert'
          // row images at row grain (Delta's initial-load convention)
          (Nil, mT.entries)
        } else {
          if (!live.contains(v - 1)) gone(v - 1)
          val mF = prevM.collect { case (pv, m) if pv == v - 1 => m }
            .getOrElse(Snapshots.readManifest(spark, dir, v - 1))
          Snapshots.changedSets(mF, mT, v - 1)
        }
      prevM = Some((v, mT))
      (v, mT.ts, removed, added)
    }
    if (rowKeyCol.isEmpty)
      // the partition grain: every version's sides in ONE scan
      Snapshots.scanStamped(spark, partCol, dataSchema,
        steps.flatMap { case (v, ts, removed, added) =>
          Seq(removed -> stamp(Some("removed"), v, ts),
            added -> stamp(Some("added"), v, ts))
        }.filter(_._1.nonEmpty), feedCols, streaming = true)
    else {
      val rows = steps.map { case (v, ts, removed, added) =>
        rowStep(removed, added, v, ts) }
      // per-version row steps union batch-side, then ONE streaming
      // re-tag — the engine sees a single streaming batch whose inner
      // plan compiled through the normal planner (see rowStep's note)
      org.apache.spark.sql.graftbridge.Bridge.streamingFrame(spark,
        if (rows.isEmpty)
          Snapshots.scanStamped(spark, partCol, dataSchema, Nil, feedCols,
            streaming = false)
        else rows.reduce(_ unionByName _))
    }
  }

  override def commit(end: V1Offset): Unit = () // retention is vacuum's job
  override def stop(): Unit = ()
  override def toString: String =
    s"SnapshotCdfSource[$dir, partCol=$partCol, base=$base]"
}
