package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.{CoalescedHashPartitioning,
  Partitioning, PartitioningCollection}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}

/** Column <-> Expression bridge. Spark 4 made the converters
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`), so this
  * object lives inside the sql package tree — the standard pattern used by
  * Spark extension libraries to expose native Catalyst expressions as
  * `Column`s. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** analyze an UNRESOLVED logical plan into a DataFrame — what the SQL
    * DML dispatcher needs to resolve a MERGE statement's source
    * relation/subquery through the session's real analyzer (Spark 4 made
    * Dataset.ofRows private[sql]) */
  def ofRows(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    Dataset.ofRows(s.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan)

  /** wrap a V1 BaseRelation as a LogicalRelation carrying a GIVEN
    * output — the V2-to-V1 substitution a catalog-resolved graft table
    * performs (graft.sources.GraftCatalog): downstream operators have
    * already resolved against the DataSourceV2Relation's attributes, so
    * the replacement must reuse those exact exprIds (the same move as
    * Spark's own FallBackFileSourceV2) */
  def logicalRelation(rel: org.apache.spark.sql.sources.BaseRelation,
      output: Seq[org.apache.spark.sql.catalyst.expressions.AttributeReference])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    new org.apache.spark.sql.execution.datasources.LogicalRelation(
      rel, output, None, false, None)

  /** Clamp the carried `originStats` of a checkpointed frame.
    *
    * `Dataset.localCheckpoint` wraps the materialized RDD in a
    * [[LogicalRDD]] that REMEMBERS the origin plan's estimated
    * statistics. Useful for one-shot checkpoints — but in an iterative
    * join loop those estimates compound multiplicatively round over
    * round (round r's sizeInBytes is a product of round r-1 frames), so
    * by a dozen rounds the driver is multiplying million-bit BigInts
    * inside every stats visit and planning takes minutes (measured:
    * communityMerge rounds=12 never finished; clamped it's seconds).
    * Clamping at Long.MaxValue (== defaultSizeInBytes's ceiling) keeps
    * SMALL frames' real estimates — auto-broadcast still fires for
    * genuinely-small sides — while bounding the compounding: every
    * round's products are over <= 2^63 leaves, then re-clamped here, so
    * stats stay a few hundred bits at ANY round count. rowCount and
    * attribute stats are dropped (they compound the same way and AQE
    * re-derives real sizes at runtime anyway). */
  def statsClamp(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    ds.queryExecution.logical match {
      case lr @ LogicalRDD(output, rdd, part, ord, streaming, stream) =>
        val clamped = org.apache.spark.sql.catalyst.plans.logical.Statistics(
          sizeInBytes = lr.stats.sizeInBytes.min(BigInt(Long.MaxValue)))
        Dataset.ofRows(ds.sparkSession,
          LogicalRDD(output, rdd, part, ord, streaming, stream)(
            ds.sparkSession, Some(clamped), None))
      case _ => df
    }
  }

  /** One group's key span: the least and greatest non-null `key`
    * (Catalyst internal values, null while the group has no non-null
    * key), the group's rows and its rows with a non-null key. */
  final case class KeySpan(lo: Any, hi: Any, rows: Long, keyed: Long)

  /** A frame local-checkpointed by [[checkpointSpans]], with the key
    * spans its materializing job folded. */
  final class Pinned private[graftbridge] (lr: LogicalRDD,
      s: org.apache.spark.sql.classic.SparkSession,
      val spans: Map[String, KeySpan]) {

    /** The checkpointed rows. They keep the partitioning and ordering
      * of the plan that made them, so a join on the key does not shuffle
      * them again. Hash buckets that the plan coalesced into ONE
      * partition are declared hashed into one, which a join can match,
      * only when the join's other side (`otherBytes`, its files' bytes)
      * fits one advisory partition too: that side is then shuffled into
      * the one partition, and a larger side would make the join one
      * task. Otherwise the coalesced layout stays, and the join shuffles
      * both sides as it would for a frame that was never checkpointed. */
    def rows(otherBytes: Long): DataFrame = {
      val part = lr.outputPartitioning match {
        case CoalescedHashPartitioning(h, Seq(_)) if otherBytes <=
            s.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) =>
          h.copy(numPartitions = 1)
        case p => p
      }
      Dataset.ofRows(s, lr.copy(outputPartitioning = part)(s,
        Some(lr.computeStats()), Some(lr.constraints)))
    }

    /** Drop the checkpoint's blocks; the rows are unreadable after. */
    def release(): Unit = lr.rdd.unpersist(blocking = false)
  }

  /** Local-checkpoint `df` in ONE job that also returns, per value of
    * its string column `group`, the [[KeySpan]] of its column `key`.
    * The rows and the spans come from the same evaluation, which a
    * second look at `df` cannot promise when `df` is nondeterministic
    * (and which would cost a second evaluation besides). */
  def checkpointSpans(df: DataFrame, group: String, key: String): Pinned = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    val (gi, ki) = (df.schema.fieldIndex(group), df.schema.fieldIndex(key))
    val keyType = df.schema(key).dataType
    def widen(ord: Ordering[Any], a: KeySpan, b: KeySpan): KeySpan = KeySpan(
      if (a.lo == null || (b.lo != null && ord.lt(b.lo, a.lo))) b.lo else a.lo,
      if (a.hi == null || (b.hi != null && ord.gt(b.hi, a.hi))) b.hi else a.hi,
      a.rows + b.rows, a.keyed + b.keyed)
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      // the job's tasks fill the checkpoint's blocks as they fold
      val perTask = ds.sparkSession.sparkContext.runJob(rdd,
        (rows: Iterator[InternalRow]) => {
          val ord = TypeUtils.getInterpretedOrdering(keyType)
          val acc = scala.collection.mutable.HashMap.empty[String, KeySpan]
          rows.foreach { r =>
            val g = if (r.isNullAt(gi)) null else r.getUTF8String(gi).toString
            val k = if (r.isNullAt(ki)) null else r.get(ki, keyType)
            val one = KeySpan(k, k, 1L, if (k == null) 0L else 1L)
            acc(g) = acc.get(g).fold(one)(widen(ord, _, one))
          }
          acc.toMap
        })
      // an adaptive plan knows its final partitioning and ordering only
      // once it has run, and Spark's own localCheckpoint then keeps
      // neither; like it, keep the first of a collection's layouts
      val ran = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def firstLeaf(p: Partitioning): Partitioning = p match {
        case c: PartitioningCollection => firstLeaf(c.partitionings.head)
        case p => p
      }
      val lr = LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)
      val ord = TypeUtils.getInterpretedOrdering(keyType)
      new Pinned(
        lr.copy(outputPartitioning = firstLeaf(ran.outputPartitioning),
          outputOrdering = ran.outputOrdering)(ds.sparkSession,
          Some(lr.computeStats()), Some(lr.constraints)),
        ds.sparkSession,
        perTask.flatten.groupMapReduce(_._1)(_._2)(widen(ord, _, _)))
    }
  }

  /** true iff the frame IS a materialized checkpoint (its analyzed plan
    * is the bare [[LogicalRDD]] a localCheckpoint leaves behind, no
    * projection on top, AND the underlying RDD is actually checkpointed)
    * — the test an iterative pipeline uses to skip re-materializing a
    * stage output the previous stage already checkpointed. The RDD-level
    * check matters for the public louvainMove/communityMerge/modularity
    * entry points: a caller's `spark.createDataFrame(rdd)` frame is ALSO
    * a bare LogicalRDD, but lazily recomputed (possibly
    * nondeterministically) — it must still get the materializing fence.
    * A merely PERSISTED rdd does not count: its blocks can be evicted and
    * recomputed, which is exactly what the fence must block. */
  def isCheckpointedRdd(df: DataFrame): Boolean =
    df.asInstanceOf[Dataset[Row]].queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.isCheckpointed
      case _ => false
    }

  /** the exact inverse of the %XX escaping Spark's partitioned writer
    * applies to partition directory names (java.net.URLDecoder is NOT:
    * it also turns literal '+' into a space, which the writer never
    * escaped — a silent value corruption for '+'-bearing partitions) */
  def unescapePathName(name: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(name)

  /** the writer-side twin: the exact %XX escaping Spark's partitioned
    * writer applies to partition directory names — what a task-side
    * streaming writer must apply to route rows into `col=value` dirs
    * byte-identically to the batch writer */
  def escapePathName(name: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(name)

  /** ONE parquet scan planned from a manifest's explicit FILE list — how
    * a table format serves a snapshot to Spark without N per-partition
    * plan nodes and without a single filesystem call.
    *
    * The relation's [[ManifestFileIndex]] plays the role
    * `CatalogFileIndex` plays for Hive tables, one rung better: partition
    * values AND file paths/sizes come from the manifest (never parsed
    * from directory names, never re-listed — the r14 `InMemoryFileIndex`
    * + supplied-`PartitionSpec` shape still paid one listing per entry
    * dir at index construction; this pays zero), wrapped in a
    * [[HadoopFsRelation]]. The planner sees a single `FileSourceScanExec`
    * with a real partition column, which buys, for free: partition
    * pruning on `partCol` (shown as PartitionFilters), column pruning,
    * filter pushdown into parquet row groups, AND per-FILE skipping
    * against the manifest's recorded column bounds (the zonemap layer —
    * see [[ManifestFileIndex.listFiles]]). Contrast with a per-entry
    * `spark.read.parquet(dir).withColumn(...)` union fold: that plans one
    * scan node per partition and analysis cost grows with the manifest,
    * which is exactly wrong at 10^3-10^4 partitions.
    *
    * `dataSchema` is the files' schema (partition column NOT included) and
    * is trusted as given — callers record it at commit time so a read
    * plans with ZERO footer reads. */
  def manifestRelation(s: SparkSession, partSchema: StructType,
      files: Seq[ManifestFile], types: Map[String, DataType],
      dataSchema: StructType): HadoopFsRelation = {
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new ManifestFileIndex(partSchema, files, types)
    HadoopFsRelation(index, index.partitionSchema, dataSchema, None,
      new ParquetFileFormat, Map.empty)(cs)
  }

  def manifestFileScan(s: SparkSession, partSchema: StructType,
      files: Seq[ManifestFile], types: Map[String, DataType],
      dataSchema: StructType): DataFrame = {
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.baseRelationToDataFrame(
      manifestRelation(s, partSchema, files, types, dataSchema))
  }

  /** a frame's executed InternalRow RDD — what a `needConversion =
    * false` V1 relation's buildScan returns (the documented cast trick
    * every InternalRow-serving V1 source uses) */
  def internalRowRdd(df: DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[Dataset[Row]].queryExecution.toRdd

  /** Re-tag an arbitrary BATCH-planned frame as a streaming batch — the
    * V1-source escape hatch for getBatch results whose plan holds
    * operators the incremental planner would misread as STATEFUL if
    * their inputs were streaming-tagged (a keyed full-outer join between
    * two streaming-tagged legs would plan as a watermark-requiring
    * stream-stream join; here it is an intra-batch join over two pinned
    * manifests). The batch plan compiles through the NORMAL planner and
    * its executed RDD is wrapped in a streaming-tagged LogicalRDD — the
    * exact `internalCreateDataFrame(rdd, schema, isStreaming = true)`
    * shape FileStreamSource and the Kafka source return their batches
    * with. */
  def streamingFrame(s: SparkSession, df: DataFrame): DataFrame = {
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(
      df.asInstanceOf[Dataset[Row]].queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** the same scan STREAMING-TAGGED — what a v1 streaming `Source`'s
    * `getBatch` must return (MicroBatchExecution asserts the grafted
    * plan `isStreaming`; Delta's DeltaSource builds its batches exactly
    * this way: a batch file scan inside a streaming-tagged
    * LogicalRelation) */
  def manifestStreamScan(s: SparkSession, partSchema: StructType,
      files: Seq[ManifestFile], types: Map[String, DataType],
      dataSchema: StructType): DataFrame = {
    val cs = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Dataset.ofRows(cs, LogicalRelation(
      manifestRelation(s, partSchema, files, types, dataSchema),
      isStreaming = true))
  }
}
