package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.StructType
import graft.QueryDef

/** Structured Streaming layer. The reference is strictly batch with
  * blocking phase barriers (`namenode.py:425-440`); here the same tumbling
  * aggregation runs through `readStream` -> windowed agg -> memory sink,
  * and must agree exactly with the batch twin (`q_events_tumbling` shares
  * the oracle SQL).
  *
  * In production this is `readStream.format("kafka"/"parquet")` with a
  * watermark bounding state; for the bounded-replay check we use complete
  * mode so the full result is observable. State is keyed by
  * (window, event_type) — partitioned by the shuffle like any groupBy.
  *
  * Every bounded-replay stream runs through one of two helpers, and
  * through nothing else: [[toMemory]] (a memory sink whose rows come
  * back as a DataFrame) and [[foldBatches]] (a `foreachBatch` fold over
  * the micro-batches). Both start the query (through [[start]], so a
  * rerun reuses its generated code), wait for it through [[drain]] and
  * stop it; neither leaves an active query or a session view behind,
  * on success or on failure.
  */
object Streaming {

  private val DrainTimeoutMs = 180000L

  /** Drain a bounded-replay stream with a hard timeout: a wedged
    * micro-batch must fail ONE query, not hang the whole Verify run (the
    * driver's correctness gate dumps nothing if the JVM never exits). */
  def drain(q: StreamingQuery, timeoutMs: Long = DrainTimeoutMs): Unit =
    try {
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val t = new Thread(() => try q.processAllAvailable()
        catch { case e: Throwable => failure.set(e) })
      t.setDaemon(true)
      t.start()
      t.join(timeoutMs)
      if (t.isAlive)
        throw new java.util.concurrent.TimeoutException(
          s"stream did not drain within ${timeoutMs}ms")
      // a failed stream must FAIL its query, not return a partial table
      if (failure.get() != null) throw failure.get()
    } finally q.stop()

  private val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** Start `w`'s query so that its tasks share the executor's class
    * loader. A stream query runs in a clone of `s` with a fresh session
    * id; under artifact isolation (Spark's default) its tasks then get a
    * class loader of their own, and since Spark's codegen cache is keyed
    * by (loader, code), every run of the same query compiled all its
    * generated classes again. The clone copies the conf inside
    * `start()`, so isolation is off exactly there; the caller's conf is
    * restored before this returns. Starts are serialized, so two
    * starts' save and restore cannot interleave. Anything else that
    * runs on `s` during a start (another thread's query, or a conf set
    * it makes) sees isolation off, or has its setting of it overwritten
    * by the restore: a session is assumed to be driven by one thread at
    * a time while a stream starts. */
  private def start(s: SparkSession, w: DataStreamWriter[_]): StreamingQuery =
    synchronized {
      val saved = s.conf.getOption(ArtifactIsolation)
      s.conf.set(ArtifactIsolation, "false")
      try w.start()
      finally saved match {
        case Some(v) => s.conf.set(ArtifactIsolation, v)
        case None => s.conf.unset(ArtifactIsolation)
      }
    }

  /** Run `ds` into a memory sink until it has consumed everything
    * available and return the sink's rows. The sink's session view is
    * dropped before this returns, also when the stream fails: the
    * returned plan reads the sink itself, so the rows live exactly as
    * long as the caller holds the DataFrame. */
  private[graft] def toMemory(ds: Dataset[_], outputMode: String): DataFrame =
    toMemoryCounted(ds, outputMode)._1

  /** [[toMemory]], plus the number of micro-batches that read input rows */
  private[graft] def toMemoryCounted(ds: Dataset[_],
      outputMode: String): (DataFrame, Int) = {
    val name = "stream_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = start(ds.sparkSession,
      ds.writeStream.outputMode(outputMode).format("memory").queryName(name))
    try {
      drain(q)
      (ds.sparkSession.table(name), q.recentProgress.count(_.numInputRows > 0))
    } finally ds.sparkSession.catalog.dropTempView(name)
  }

  /** Fold the micro-batches of `df` into `zero` until the stream has
    * consumed everything available; returns the fold and the number of
    * micro-batches it took. `step` gets the fold so far, the batch and
    * its batch id; it runs on the stream's thread, one batch at a time. */
  private[graft] def foldBatches[A](df: DataFrame, zero: A,
      timeoutMs: Long = DrainTimeoutMs)(step: (A, DataFrame, Long) => A): (A, Int) = {
    // written by the micro-batch thread, read here after drain: the
    // reference's volatile get/set make the hand-off visible by the JMM
    // itself, not by the engine's incidental happens-before at query
    // termination (batches run one at a time, so no CAS is needed)
    val acc = new java.util.concurrent.atomic.AtomicReference((zero, 0))
    val q = start(df.sparkSession, df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (a, n) = acc.get
        acc.set((step(a, batch, batchId), n + 1))
      })
    drain(q, timeoutMs)
    acc.get
  }

  /** The parquet files under `dir` whose names match `glob`, as a
    * stream; `maxFilesPerTrigger` > 0 caps the files per micro-batch. */
  private def fileFeed(s: SparkSession, schema: StructType, dir: String,
      glob: String, maxFilesPerTrigger: Int = 0): DataFrame = {
    val reader = s.readStream.schema(schema).option("pathGlobFilter", glob)
    if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    reader.parquet(dir)
  }

  /** The sf dir's events table as a stream, in its raw file schema (the
    * file-stream source wants a directory: it streams the sf dir, globbed
    * down to the table's file). */
  private def eventsFeed(s: SparkSession, d: String): DataFrame =
    fileFeed(s, graft.sources.Tables.eventsFileSchema(s, d), d, "events.parquet")

  /** A bus topic replayed as a stream in about `batches` micro-batches
    * (admission cap: total records / batches + 1 per trigger), each
    * comma-separated line split into `fields`: a column name and the
    * type its text casts to ("string" keeps the text). */
  private def busFeed(s: SparkSession, topic: String, batches: Int,
      fields: (String, String)*): DataFrame = {
    val total = FileBus.endOffsets(topic).values.sum
    s.readStream.format(classOf[FileBusProvider].getName)
      .option("path", topic)
      .option("maxRecordsPerTrigger", math.max(1L, total / batches + 1L).toString)
      .load()
      .select(lineFields(fields: _*): _*)
  }

  /** the keyed CDC topic as (user_id, event_id, v) */
  private def keyedFeed(s: SparkSession, d: String, batches: Int): DataFrame =
    busFeed(s, FileBusFixture.ensureKeyedTopic(s, d), batches,
      "user_id" -> "long", "event_id" -> "long", "v" -> "double")

  /** the cardinality topic as (event_type, user_id) */
  private def cardinalityFeed(s: SparkSession, d: String, batches: Int): DataFrame =
    busFeed(s, FileBusFixture.ensureCardinalityTopic(s, d), batches,
      "event_type" -> "string", "user_id" -> "long")

  private def lineFields(fields: (String, String)*): Seq[Column] =
    fields.zipWithIndex.map { case ((name, tpe), i) =>
      val f = split(col("value"), ",").getItem(i)
      (if (tpe == "string") f else f.cast(tpe)).as(name)
    }

  /** Run `body` with a bounded-replay-sized shuffle-partition count, then
    * restore. A streaming query spins up one state-store instance per
    * shuffle partition per stateful operator, and that count is baked
    * into the checkpoint at start — 32 stores for a replay whose state
    * fits in one is pure per-micro-batch overhead (measured ~2x on the
    * stream-stream join). Production sizes this to throughput at stream
    * START; the batch queries around these are untouched. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  def tumblingStream(s: SparkSession, d: String): DataFrame = withStatePartitions(s, 8) {
    toMemory(eventsFeed(s, d)
      .transform(graft.sources.Tables.withEventTs)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Exact.decOut(sum(col("value").cast("decimal(38,10)"))).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value")), "complete")
  }

  /** Stateful streaming sessionization over the REAL events table: the
    * raw nanos `ts` is converted inside the stream, per-user state carries
    * open sessions across micro-batches, and only CLOSED sessions are
    * emitted (append mode) — the batch oracle is therefore sessionization
    * minus each user's trailing session. 30-minute gap, same as
    * q_events_sessionize. */
  def sessionStream(s: SparkSession, d: String): DataFrame = withStatePartitions(s, 8) {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = 1800000000L

    def step(uid: Long, evs: Iterator[SessEv],
        state: GroupState[SessState]): Iterator[ClosedSession] = {
      val sorted = evs.toVector.sortBy(e => (e.ts_us, e.event_id))
      var st = state.getOption.orNull
      val out = Vector.newBuilder[ClosedSession]
      sorted.foreach { e =>
        st match {
          case null =>
            st = SessState(e.ts_us, e.ts_us, 1L, 1L)
          case SessState(start, last, n, idx) if e.ts_us - last > gapUs =>
            out += ClosedSession(uid, idx, n, start)
            st = SessState(e.ts_us, e.ts_us, 1L, idx + 1)
          case SessState(start, _, n, idx) =>
            st = SessState(start, e.ts_us, n + 1, idx)
        }
      }
      if (st != null) state.update(st)
      out.result().iterator
    }

    toMemory(eventsFeed(s, d)
      .transform(graft.sources.Tables.withEventTs)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .as[SessEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(step),
      "append")
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start_us"))
  }

  /** Stream-stream inner join: purchases joined to the same user's
    * clicks within the preceding 5 minutes, both sides watermarked (the
    * event-time constraint bounds join state on a real cluster; in the
    * bounded replay it just reproduces the batch interval join). */
  // 4 state partitions, not 8: a stream-stream join runs FOUR state
  // stores per partition (two sides x keyToNumValues/keyWithIndexToValue)
  // so its per-micro-batch fixed cost scales steeper than the windowed
  // aggs'; measured warm 2.7 s at 4 vs 5.2 s at 8 (and worse at 2 — the
  // join itself still wants parallelism) on the sf0.1 replay.
  //
  // No-data micro-batches are disabled for THIS query only: after the
  // data batch, the advanced watermark otherwise triggers a rows=0 batch
  // whose sole job is evicting expired join state — measured ~0.9-1.4 s
  // (16 state-store commits) of the replay's ~3.7 s wall. An INNER
  // join's OUTPUT never depends on that eviction pass, so skipping it is
  // semantics-preserving here; the left-outer twin below keeps it ON
  // (its unmatched-row emission happens exactly in that batch).
  //
  // Warm floor RE-BASELINED at 1.6 s (r7): the r4 aspirational ≤1.5 s
  // target is 0.1 s below what the shape costs. StreamProfile sweep at
  // local[32], state partitions {2,3,4} -> warm replay 2.60/2.81/2.65 s
  // cold-JVM (1.60 s min-of-3 in the long-warmed bench JVM) — no
  // partition-count win remains. The floor decomposes as: one 200k-row
  // micro-batch scanning the source once per join side (~1.5 s
  // addBatch), 4 partitions x 4 join state stores committing (~1.5-1.9 s
  // allUpdates+commit), plus ~0.4-0.6 s fixed planning/offset-log cost.
  // Each term is the micro-batch machinery itself, not a plan defect; at
  // production scale the same costs amortize over continuous triggers
  // instead of landing on a single bounded replay.
  def purchaseClickJoin(s: SparkSession, d: String): DataFrame = withStatePartitions(s, 4) {
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndPrev = s.conf.get(ndKey)
    s.conf.set(ndKey, "false")
    try purchaseClickJoinInner(s, d)
    finally s.conf.set(ndKey, ndPrev)
  }

  private def purchaseClickJoinInner(s: SparkSession, d: String): DataFrame = {
    // one streaming source, two filter branches (stream self-join) — the
    // file source is scanned once per micro-batch, not once per side
    val src = eventsFeed(s, d)
      .transform(graft.sources.Tables.withEventTs)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user")
        && col("c_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES")
        && col("c_ts") <= col("p_ts"))
    toMemory(joined.select("p_id", "c_id"), "append")
  }

  /** Stream-stream LEFT OUTER join with watermark expiry: same
    * purchases-to-clicks shape as [[purchaseClickJoin]], but unmatched
    * purchases are emitted (with a -1 click id) once the watermark proves
    * no click can still match. In a bounded replay the final watermark is
    * `min(max p_ts, max c_ts) - 1h`, so purchases after that cutoff that
    * never matched are withheld forever — the batch oracle applies the
    * same cutoff. The -1 sentinel (instead of NULL) keeps the column
    * int64 on both compare paths (a NULL would coerce pandas to float64).
    */
  def purchaseClickLeftJoin(s: SparkSession, d: String): DataFrame = withStatePartitions(s, 4) {
    val src = eventsFeed(s, d)
      .transform(graft.sources.Tables.withEventTs)
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user")
        && col("c_ts") >= col("p_ts") - expr("INTERVAL 5 MINUTES")
        && col("c_ts") <= col("p_ts"),
      "left_outer")
    toMemory(joined.select(col("p_id"),
      coalesce(col("c_id"), lit(-1L)).as("c_id")), "append")
  }

  /** Streaming deduplication: first-arrival keep on (user_id, event_type).
    * Bounded replay keeps full key state (the production variant is
    * dropDuplicatesWithinWatermark, which bounds state by event time);
    * emitting only the key columns makes the result order-insensitive —
    * exactly SELECT DISTINCT in batch. */
  def streamDedup(s: SparkSession, d: String): DataFrame = withStatePartitions(s, 8) {
    toMemory(eventsFeed(s, d)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type"), "append")
  }

  /** Streaming decontamination — the stream-static rung of the LLM-data
    * pipeline: documents arriving as a stream are fingerprinted in-flight
    * and anti-joined against the STATIC eval-set fingerprint index, so a
    * contaminated doc is dropped at ingest, before it ever lands in the
    * corpus. A stream-static left-anti join is STATELESS in Structured
    * Streaming — each micro-batch probes the static side independently,
    * no watermark, no state store — so the cost is a per-batch broadcast
    * hash anti-join whose build side is fingerprints only (16 bytes per
    * eval doc), exactly the batch twin's (`q_dedup_decontaminate`)
    * broadcast shape; the streamed documents never shuffle. Emits
    * (doc_id, fp) of the surviving docs and shares the batch twin's
    * oracle: arrival batching cannot change an anti-join's output. */
  def decontaminateStream(s: SparkSession, d: String): DataFrame = withStatePartitions(s, 8) {
    import graft.api.Graft
    val docs = graft.sources.Tables.documents(s, d)
    val evalFp = docs.filter(col("doc_id") % 50 === 0)
      .select(Graft.contentFp(col("text")).as("fp")).distinct()
    toMemory(fileFeed(s, docs.schema, d, "documents.parquet")
      .filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), Graft.contentFp(col("text")).as("fp"))
      .join(broadcast(evalFp), Seq("fp"), "left_anti"), "append")
      .select("doc_id", "fp")
  }

  /** The q_stream_bpe_encode body: batch-train the BPE vocab, stream
    * the corpus through a broadcast vocab join and a complete-mode
    * per-doc token-count aggregate. At 100 TB this is how a tokenizer
    * meets an ingest firehose: train offline on the static corpus,
    * apply per micro-batch with nothing but a broadcast — no state
    * store beyond the running aggregate. */
  def bpeEncodeStream(s: SparkSession, d: String): DataFrame = withStatePartitions(s, 8) {
    import graft.api.Graft
    val docs = graft.sources.Tables.documents(s, d)
    val vocab = Graft.bpeTrain(
        docs.select(explode(Graft.tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt")),
        graft.functions.TextAnalysis.BpeMerges)._2
      .select(col("w"), size(col("syms")).cast("long").as("n"))
    toMemory(fileFeed(s, docs.schema, d, "documents.parquet")
      .select(col("doc_id"), explode(Graft.tokens(col("text"))).as("w"))
      .join(broadcast(vocab), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n").as("n_bpe_tokens")), "complete")
  }

  /** The q_stream_mixture body: pre-flight mixture/budget monitor at
    * ingest. Every arriving document is priced STATELESSLY — token
    * count plus its hash-fractional epoch copies under the exact
    * q_sample_mixture rule (floor(rate) + one extra copy iff
    * h60('mix:'||id) % 100 < rate % 100) — then folded into one
    * complete-mode per-language aggregate scored against the 20k
    * token budget. Every reported column is a sum/count of per-doc
    * integers: an additive fold over a stateless per-row map is
    * batching-invariant by construction, so the oracle replays the
    * whole monitor as one GROUP BY. At 100 TB this answers "does
    * tonight's mixture fit the budget?" while the corpus is still
    * landing — state is one row per language, documents never shuffle
    * (the only exchange carries language keys). */
  def mixtureStream(s: SparkSession, d: String): DataFrame = withStatePartitions(s, 8) {
    import graft.api.Graft
    val docs = graft.sources.Tables.documents(s, d)
    val r = when(col("lang") === "en", 150L).when(col("lang") === "de", 100L)
      .when(col("lang") === "fr", 50L).when(col("lang") === "es", 25L)
      .when(col("lang") === "zh", 10L).otherwise(0L)
    toMemory(fileFeed(s, docs.schema, d, "documents.parquet")
      .select(col("lang"), col("doc_id"),
        size(Graft.tokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("r", r)
      .withColumn("copies", expr("r div 100") +
        when(graft.Exact.h60(concat(lit("mix:"), col("doc_id"))) % 100
          < col("r") % 100, 1L).otherwise(0L))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("raw_tokens"),
        sum("copies").as("mix_docs"),
        sum(col("copies") * col("n_tok")).as("mix_tokens")), "complete")
      .select(col("lang"), col("n_docs"), col("raw_tokens"), col("mix_docs"),
        col("mix_tokens"), lit(20000L).as("budget"),
        (col("mix_tokens") > 20000L).as("over_budget"),
        greatest(col("mix_tokens") - 20000L, lit(0L)).as("excess_tokens"))
  }

  /** Streaming sliding-window aggregation: each event lands in two
    * overlapping 2h windows (1h slide) — same shape as the tumbling
    * stream, ~2x the state keys; shares the batch twin's oracle. */
  def slidingStream(s: SparkSession, d: String): DataFrame = withStatePartitions(s, 8) {
    toMemory(eventsFeed(s, d)
      .transform(graft.sources.Tables.withEventTs)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n")), "complete")
  }

  /** Live EXTERNAL ingestion: lines arriving over TCP (Spark's built-in
    * `socket` source) parsed into typed events and windowed exactly like
    * the file-replay streams — the production `readStream.format(...)`
    * ingestion path driven end-to-end against a real network feed
    * (SocketIngestSpec runs a live ServerSocket). The reference's framed
    * socket layer (`robust_socket_io.py:1-114`, `tools.py:20-60`) is
    * hand-rolled recv loops + JSON length framing; here the source is
    * declarative and the same windowed agg runs unchanged over file
    * replay, socket, or — swapping `format("kafka")` — a durable log.
    * The socket source itself is at-most-once (no offsets), so it's the
    * demo/dev rung of that ladder, stated honestly.
    *
    * Line format: `epoch_us,event_type,value`. Returns the UNSTARTED
    * windowed aggregation; the caller owns sink + lifecycle — and
    * therefore the state-partition sizing: Structured Streaming resolves
    * `spark.sql.shuffle.partitions` at query START (first micro-batch
    * planning), so set it BEFORE `.start()`; a wrapper around
    * construction alone is silently ineffective. */
  def socketIngest(s: SparkSession, host: String, port: Int): DataFrame =
    ingestAgg(
      s.readStream.format("socket")
        .option("host", host).option("port", port).load()
        .select(col("value")))

  /** The same watermark-ready windowed aggregation over ANY line feed
    * (`epoch_us,event_type,value`): socket (at-most-once dev rung) and
    * [[FileBus]] (partitioned, offset-replayable rung) both land here —
    * the ingestion ladder shares one query body. */
  def ingestAgg(lines: DataFrame): DataFrame =
    lines
      .select(split(col("value"), ",").as("f"))
      .select(
        timestamp_micros(col("f").getItem(0).cast("long")).as("ts"),
        col("f").getItem(1).as("event_type"),
        col("f").getItem(2).cast("double").as("v"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.Exact.decOut(sum(col("v").cast("decimal(38,10)"))).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming CDC upsert — the foreachBatch MERGE pattern: a keyed
    * change feed consumed from the bus in MULTIPLE admission-controlled
    * micro-batches, each batch reduced to its per-key latest change and
    * applied onto the evolving state through [[graft.api.Graft.merge]]
    * (the same full-outer MERGE INTO shape as `q_pipeline_upsert`).
    * Delete semantics ride the feed deterministically: a change whose
    * event_id % 29 == 0 is a tombstone ('D'), everything else an upsert
    * ('U') — so the final state is "latest change per key, minus keys
    * whose latest change is a tombstone", which is exactly what the
    * oracle states over the raw log.
    *
    * Correct under ANY batching: a key's records live in one bus
    * partition (key-hash producing) and are consumed in offset order, so
    * the last batch containing a key applies that key's global latest
    * change — per-batch reduction then sequential merge is a fold that
    * always converges to latest-wins. The per-round `localCheckpoint`
    * caps lineage exactly like the CC iteration.
    *
    * Scale shape: each trigger shuffles ONLY the change batch plus the
    * state's join side — at 100 TB the state is the key-bucketed base of
    * `q_pipeline_upsert_bucketed`, where the base reaches the merge with
    * zero exchange and the per-trigger cost is the batch alone.
    * foreachBatch is at-least-once by contract; a real deployment makes
    * the apply idempotent (MERGE is) or transactional — stated, not
    * papered over. Returns (final state, micro-batches applied). */
  private[graft] def streamUpsertCounted(s: SparkSession, d: String,
      batches: Int = 3): (DataFrame, Int) = withStatePartitions(s, 4) {
    import s.implicits._
    foldBatches(keyedFeed(s, d, batches),
        Seq.empty[(Long, Long, Double)].toDF("user_id", "event_id", "v")) {
      (state, batch, _) =>
        val changes = batch
          .groupBy(col("user_id"))
          .agg(max(col("event_id")).as("event_id"),
            max_by(col("v"), col("event_id")).as("v"))
          .withColumn("op",
            when(col("event_id") % 29 === 0, lit("D")).otherwise(lit("U")))
        graft.api.Graft.merge(state, changes, "user_id")
          .drop("op").localCheckpoint()
    }
  }

  def streamUpsert(s: SparkSession, d: String): DataFrame =
    streamUpsertCounted(s, d)._1

  /** Streaming EWMA (the q_stream_ewma body): the per-user recursive
    * fold `acc ← α·x + (1−α)·acc` maintained across micro-batches with
    * `mapGroupsWithState` in Update mode — the engine's numeric-state
    * surface beside the sessionizer's session-state one. Order
    * discipline: the keyed topic is per-user event_id-ascending (the
    * fixture's Kafka-style contract), per-user `ts` is monotone in
    * event_id, offsets preserve log order across triggers, and each
    * batch's group slice re-sorts locally — so the streamed fold runs in
    * the EXACT order of the batch analytic (q_events_ewma) and, α = 0.5
    * being exactly representable, lands the bit-identical double. The
    * memory sink accumulates one update row per touched group per
    * trigger; the final read keeps each user's last state via
    * (max n_events, max_by ewma). Multi-batch agreement with the batch
    * fold is pinned in StreamingRobustnessSpec.
    *
    * Scale shape: state is TWO scalars per user; each trigger touches
    * only arriving users' groups and shuffles batch-sized rows on the
    * user key. */
  private[graft] def streamEwmaCounted(s: SparkSession, d: String,
      batches: Int = 1): (DataFrame, Int) = withStatePartitions(s, 4) {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    def step(uid: Long, evs: Iterator[EwmaEv],
        state: GroupState[EwmaState]): EwmaOut = {
      val sorted = evs.toVector.sortBy(_.event_id)
      var st = state.getOption.getOrElse(EwmaState(0.0, 0L))
      sorted.foreach { e =>
        st = EwmaState(
          if (st.n == 0L) e.value else 0.5 * st.acc + 0.5 * e.value,
          st.n + 1L)
      }
      state.update(st)
      EwmaOut(uid, st.n, st.acc)
    }

    val (updates, applied) = toMemoryCounted(
      keyedFeed(s, d, batches).withColumnRenamed("v", "value")
        .as[EwmaEv]
        .groupByKey(_.user_id)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(step), "update")
    (updates.groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
        max_by(col("ewma_value"), col("n_events")).as("ewma_value")),
      applied)
  }

  def streamEwma(s: SparkSession, d: String): DataFrame =
    streamEwmaCounted(s, d)._1

  /** Incremental view maintenance (the q_stream_ivm body): a per-cohort
    * aggregate view (`count` of live keys, decimal-exact `sum` of their
    * current v) maintained INCREMENTALLY from the keyed CDC feed —
    * never recomputed from the key table. Each batch's per-key latest
    * change retracts the key's OLD contribution (looked up in the
    * maintained key table) and inserts the new one; tombstones retract
    * only. A missed retraction, double-applied delta, or lost batch
    * leaves the view permanently off the fixpoint the oracle states —
    * that is the invariant under test. Decimal(38,10) running sums make
    * the additions exact and order/batching-independent.
    *
    * Scale shape: per batch, deltas aggregate map-side to at most
    * |cohorts| rows before the full-outer view merge; the key table
    * sees the same MERGE shape as q_stream_upsert. View size is the
    * rollup's, not the corpus's. */
  private[graft] def streamIvmCounted(s: SparkSession, d: String,
      batches: Int = 3): (DataFrame, Int) = withStatePartitions(s, 4) {
    import s.implicits._
    import graft.Exact
    val zeroDec = Exact.dec(lit(0.0))
    val emptyView = Seq.empty[(Long, Long)].toDF("cohort", "n_users")
      .withColumn("sum_v", zeroDec)
    val emptyKeys = Seq.empty[(Long, Long, Double)].toDF("user_id", "event_id", "v")
    val ((view, _), applied) = foldBatches(keyedFeed(s, d, batches),
        (emptyView, emptyKeys)) {
      case ((view, keyState), batch, _) =>
        val changes = batch
          .groupBy(col("user_id"))
          .agg(max(col("event_id")).as("event_id"),
            max_by(col("v"), col("event_id")).as("v"))
          .withColumn("op",
            when(col("event_id") % 29 === 0, lit("D")).otherwise(lit("U")))
          .localCheckpoint() // feeds retraction, insertion, key merge
        val retract = keyState
          .join(changes.select("user_id"), Seq("user_id"), "left_semi")
          .select((col("user_id") % 10).as("cohort"),
            lit(-1L).as("dn"), (zeroDec - Exact.dec(col("v"))).as("dv"))
        val insert = changes.filter(col("op") === "U")
          .select((col("user_id") % 10).as("cohort"),
            lit(1L).as("dn"), Exact.dec(col("v")).as("dv"))
        val delta = retract.unionByName(insert)
          .groupBy("cohort").agg(sum("dn").as("dn"), sum("dv").as("dv"))
        (view.join(delta, Seq("cohort"), "full_outer")
          .select(col("cohort"),
            (coalesce(col("n_users"), lit(0L)) +
              coalesce(col("dn"), lit(0L))).as("n_users"),
            (coalesce(col("sum_v"), zeroDec) +
              coalesce(col("dv"), zeroDec)).as("sum_v"))
          .localCheckpoint(),
         graft.api.Graft.merge(keyState, changes, "user_id")
          .drop("op").localCheckpoint())
    }
    (view.filter(col("n_users") > 0)
      .select(col("cohort"), col("n_users"),
        graft.Exact.decOut(col("sum_v")).as("sum_v")), applied)
  }

  def streamIvm(s: SparkSession, d: String): DataFrame =
    streamIvmCounted(s, d)._1

  /** Cohort retention maintained INCREMENTALLY at stream ingest (the
    * q_stream_retention body) — the [[streamIvmCounted]] retraction
    * pattern applied to the one view whose key assignment can CHANGE
    * retroactively: a user's cohort is their MIN activity week, so a
    * late record carrying an earlier week re-cohorts the user and every
    * triangle cell they ever contributed must move. Per batch: the
    * genuinely new (user, week) pairs are found by one anti-join
    * against the maintained pair state; users whose cohort improves
    * retract all their existing cells under the old cohort and reinsert
    * under the new one; new pairs insert under the (possibly moved)
    * cohort; the per-cell deltas then merge into the view by the same
    * full-outer fold as IVM. The retention fixture feeds event_ids in
    * DESCENDING order precisely so re-cohorting fires mid-stream — the
    * oracle states the batching-free fixpoint and a missed retraction
    * leaves dead cells under stale cohorts.
    *
    * Scale shape: per batch the anti-join and cohort lookup shuffle
    * keys only (user_id / (user, week) pairs, never payloads); deltas
    * aggregate map-side to at most |touched cells| rows before the view
    * merge; pair state is the distinct activity relation — the same
    * asymptotic state the batch triangle scans, held incrementally. */
  private[graft] def streamRetentionCounted(s: SparkSession, d: String,
      batches: Int = 3): (DataFrame, Int) = withStatePartitions(s, 4) {
    import s.implicits._
    val WeekUs = 604800000000L
    val OriginUs = 1704067200000000L // 2024-01-01, the batch query's origin
    val zero = (
      Seq.empty[(Long, Long, Long)].toDF("cohort_week", "offset_weeks", "n_users"),
      Seq.empty[(Long, Long)].toDF("user_id", "week"),
      Seq.empty[(Long, Long)].toDF("user_id", "cohort_week"))
    val ((view, _, _), applied) = foldBatches(
        busFeed(s, FileBusFixture.ensureRetentionTopic(s, d), batches,
          "user_id" -> "long", "ts_us" -> "long"), zero) {
      case ((view, pairState, cohortState), batch, _) =>
        val batchW = batch
          .select(col("user_id"),
            expr(s"(ts_us - ${OriginUs}L) div ${WeekUs}L").as("week"))
          .distinct()
        val newPairs = batchW
          .join(pairState, Seq("user_id", "week"), "left_anti")
          .localCheckpoint() // feeds cohort move, insertion, state union
        // per touched user: old cohort (if any) vs min incoming week
        val affected = newPairs.groupBy("user_id")
          .agg(min("week").as("new_min"))
          .join(cohortState, Seq("user_id"), "left")
          .select(col("user_id"), col("cohort_week").as("old_c"),
            when(col("cohort_week").isNull ||
              col("new_min") < col("cohort_week"), col("new_min"))
              .otherwise(col("cohort_week")).as("new_c"))
          .localCheckpoint() // feeds retraction, insertion, cohort merge
        // movers: every EXISTING cell migrates old cohort -> new cohort
        val moverPairs = pairState.join(
          affected.filter(col("old_c").isNotNull && col("new_c") < col("old_c")),
          Seq("user_id"))
        val retract = moverPairs.select(col("old_c").as("cohort_week"),
          (col("week") - col("old_c")).as("offset_weeks"), lit(-1L).as("dn"))
        val reinsert = moverPairs.select(col("new_c").as("cohort_week"),
          (col("week") - col("new_c")).as("offset_weeks"), lit(1L).as("dn"))
        val insert = newPairs.join(affected.select("user_id", "new_c"), "user_id")
          .select(col("new_c").as("cohort_week"),
            (col("week") - col("new_c")).as("offset_weeks"), lit(1L).as("dn"))
        val delta = retract.unionByName(reinsert).unionByName(insert)
          .groupBy("cohort_week", "offset_weeks").agg(sum("dn").as("dn"))
        (view.join(delta, Seq("cohort_week", "offset_weeks"), "full_outer")
          .select(col("cohort_week"), col("offset_weeks"),
            (coalesce(col("n_users"), lit(0L)) +
              coalesce(col("dn"), lit(0L))).as("n_users"))
          .localCheckpoint(),
         pairState.unionByName(newPairs).localCheckpoint(),
         cohortState
          .join(affected.select("user_id"), Seq("user_id"), "left_anti")
          .unionByName(
            affected.select(col("user_id"), col("new_c").as("cohort_week")))
          .localCheckpoint())
    }
    (view.filter(col("n_users") > 0), applied)
  }

  def streamRetention(s: SparkSession, d: String): DataFrame =
    streamRetentionCounted(s, d)._1

  /** Streaming data-quality monitor (the q_stream_quality body): the
    * row-local half of the batch constraint suite (operators.Quality)
    * run against the live bus feed — per-micro-batch violation counts
    * accumulated into a running totals view, the monitor a pipeline
    * hangs alerts off. Only ROW-LOCAL constraints (domain, expectation,
    * range, window) ride the stream: each is a per-row predicate, so
    * counts are additive and the accumulated totals are batching-
    * invariant — the fixpoint the oracle states over the same topic
    * logs. (Cross-row constraints like uniqueness stay in the batch
    * suite; counting them per batch would under-report by construction.)
    *
    * Scale shape: each batch reduces to FOUR longs before the totals
    * merge (constant-size partial aggregate, map-side combined); the
    * totals view is four rows. Nothing about the corpus accumulates. */
  private[graft] def streamQualityCounted(s: SparkSession, d: String,
      batches: Int = 3): (DataFrame, Int) = withStatePartitions(s, 4) {
    import s.implicits._
    val janStartUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val febStartUs = 1706745600000000L // 2024-02-01T00:00:00Z
    val (totals, applied) = foldBatches(
        busFeed(s, FileBusFixture.ensureTopic(s, d), batches,
          "ts_us" -> "long", "event_type" -> "string", "v" -> "double"),
        Seq.empty[(String, Long)].toDF("constraint_name", "violations")) {
      (totals, batch, _) =>
        def viol(p: Column) =
          sum(when(p, 1L).otherwise(0L))
        val delta = batch.agg(
            viol(!col("event_type").isin(
              "click", "view", "purchase", "signup", "error")).as("type_domain"),
            viol(col("event_type") === "error").as("no_error_events"),
            viol(col("v") <= 0.0 || col("v") > 400.0).as("value_range"),
            viol(col("ts_us") < janStartUs || col("ts_us") >= febStartUs)
              .as("ts_window"))
          .select(expr(
            """stack(4,
              |  'type_domain', type_domain,
              |  'no_error_events', no_error_events,
              |  'value_range', value_range,
              |  'ts_window', ts_window) AS (constraint_name, d)""".stripMargin))
        totals.join(delta, Seq("constraint_name"), "full_outer")
          .select(col("constraint_name"),
            (coalesce(col("violations"), lit(0L)) +
              coalesce(col("d"), lit(0L))).as("violations"))
          .localCheckpoint()
    }
    (totals.select(col("constraint_name"), col("violations"),
      (col("violations") === 0L).as("pass")), applied)
  }

  def streamQuality(s: SparkSession, d: String): DataFrame =
    streamQualityCounted(s, d)._1

  /** Streaming drift monitor (the q_stream_drift body): the live feed's
    * value histogram accumulated per micro-batch and L1-compared against
    * the static reference histogram at the end — the ingest-time twin of
    * operators.Quality's snapshot drift. Histogram counts are additive,
    * so the accumulated current-side histogram is batching-invariant and
    * the comparison equals the batch fixpoint the oracle states.
    *
    * Drift is PLANTED in-flight (inject-then-detect, the repo precedent):
    * click values are scaled 1.5x before binning, so the click row must
    * flag against the reference built from the same topic unscaled while
    * every other event type is its own no-drift control. Each batch
    * reduces to (event_type, bin, count) rows — constant-size state, the
    * corpus never accumulates. */
  private[graft] def streamDriftCounted(s: SparkSession, d: String,
      batches: Int = 3): (DataFrame, Int) = withStatePartitions(s, 4) {
    import s.implicits._
    val topic = FileBusFixture.ensureTopic(s, d)
    val fields = Seq("ts_us" -> "long", "event_type" -> "string", "v" -> "double")
    def bins(df: DataFrame, planted: Boolean): DataFrame = df
      .select(col("event_type"),
        floor((if (planted)
            when(col("event_type") === "click", col("v") * 1.5)
              .otherwise(col("v"))
          else col("v")) / 50.0).cast("long").as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("c"))
    // reference histogram: the same topic read as a batch, unscaled
    val ref = bins(s.read.format(classOf[FileBusProvider].getName)
      .option("path", topic).load().select(lineFields(fields: _*): _*),
      planted = false)
      .localCheckpoint()
    val (curHist, applied) = foldBatches(busFeed(s, topic, batches, fields: _*),
        Seq.empty[(String, Long, Long)].toDF("event_type", "bin", "c")) {
      (curHist, batch, _) =>
        curHist.unionByName(bins(batch, planted = true))
          .groupBy("event_type", "bin").agg(sum("c").as("c"))
          .localCheckpoint()
    }
    // scale-free fence: drifted when L1 exceeds 5% of the type's row
    // count (sum of reference bin counts) — integer arithmetic, holds at
    // any sf; an absolute threshold would silently stop firing at small
    // scales and saturate at large ones
    val l1 = ref.select(col("event_type"), col("bin"), col("c").as("rc"))
      .join(curHist.select(col("event_type"), col("bin"), col("c").as("cc")),
        Seq("event_type", "bin"), "full_outer")
      .groupBy("event_type")
      .agg(sum(abs(coalesce(col("rc"), lit(0L)) - coalesce(col("cc"), lit(0L))))
        .as("l1_dist"),
        sum(coalesce(col("rc"), lit(0L))).as("n"))
      .select(col("event_type"), col("l1_dist"),
        (col("l1_dist") * 20L > col("n")).as("drifted"))
    (l1, applied)
  }

  def streamDrift(s: SparkSession, d: String): DataFrame =
    streamDriftCounted(s, d)._1

  /** EMBEDDING-drift monitor AT INGEST — the streaming twin of
    * q_quality_drift_embedding: each arriving vector micro-batch reduces
    * to per-(split, dimension) DECIMAL sums + counts, accumulated across
    * batches. Decimal addition is exact and associative, so the
    * accumulated state is batching-invariant by construction, and the
    * micro-unit rounding happens ONCE at read-out (rounding per batch
    * would make the result depend on arrival batching — the trap this
    * shape exists to avoid). The planted +0.5 on dimension 7 of the
    * shifted split is applied in-flight; the reference per-dim means
    * come from the static corpus, read once and checkpointed. State is
    * constant-size: 2·|dims| rows of (decimal, long) — the corpus never
    * accumulates. Oracle = the batch fixpoint, verbatim. */
  def streamDriftEmbedding(s: SparkSession, d: String): DataFrame =
    streamDriftEmbeddingCounted(s, d, d, "embeddings.parquet", 0)._1

  /** VERSIONED streaming ingest — Structured Streaming composed with the
    * snapshot table format (sources/Snapshots.scala): every micro-batch
    * folds into the running per-language corpus totals (exact integer
    * sums — associative, so the fold is batching-invariant) and each
    * fold COMMITS as a new snapshot version via the atomic manifest
    * rename. This is the Delta/Iceberg streaming-sink shape: readers
    * pin any version for a consistent view while the stream keeps
    * committing (SnapshotsSpec's isolation proof applies verbatim), and
    * the version history IS the ingest audit log — version k = the
    * table after batch k. The query returns the LAST committed
    * version's read-back, which must equal the batch fixpoint
    * regardless of batching; per-version monotonicity and
    * version-count == batch-count are pinned in
    * StreamingRobustnessSpec. */
  def streamSnapshot(s: SparkSession, d: String): DataFrame =
    streamSnapshotCounted(s, d, d, "documents.parquet", 0)._1

  /** returns (read-back of the last committed version, batches applied,
    * THIS run's table dir — so a spec asserts against the exact table it
    * drove, never a /tmp glob that a concurrent session could outrank) */
  private[graft] def streamSnapshotCounted(s: SparkSession, d: String,
      srcDir: String, glob: String,
      maxFilesPerTrigger: Int): (DataFrame, Int, String) = withStatePartitions(s, 4) {
    import graft.sources.Snapshots
    val docs = graft.sources.Tables.documents(s, d)
    // fresh per-run table dir (nanoTime beyond the session id: repeat
    // runs in one session — bench passes — must not stack onto one
    // history, or version numbers would depend on pass count)
    val dir = "/tmp/graft_stream_snap_" +
      java.nio.file.Paths.get(d).getFileName.toString +
      "_" + s.sparkContext.applicationId + "_" + System.nanoTime()
    graft.operators.Sampling.deleteOnExit(dir)
    def fold(df: DataFrame): DataFrame = df
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    // the fold: (running totals, last committed version)
    val ((_, lastV), applied) = foldBatches(
        fileFeed(s, docs.schema, srcDir, glob, maxFilesPerTrigger),
        (null: DataFrame, 0L)) {
      case ((prev, _), batch, batchId) =>
        val delta = fold(batch)
        // RESTART-SAFE fold: a null state means this JVM has no running
        // fold — a fresh query, or a restarted one. Seed it from the
        // table's LAST COMMITTED version, never from empty: the txn
        // stamp alone would keep the version history replay-clean while
        // post-restart totals silently missed every pre-crash batch
        // (clean-looking history over wrong data — the worse failure).
        val state =
          if (prev != null) prev
          else {
            val cur = Snapshots.currentVersion(s, dir)
            if (cur < 1) null
            else Snapshots.read(s, dir, "lang", cur)
              .select("lang", "n_docs", "n_chars").localCheckpoint()
          }
        val next =
          (if (state == null) delta
           else state.unionByName(delta).groupBy("lang")
             .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_chars")).as("n_chars")))
            .localCheckpoint()
        // the txn-stamped commit (Delta's txn action): a batch REPLAYED
        // after a crash between this commit and the engine's commit-log
        // write becomes a no-op instead of a duplicate version —
        // exactly-once versions without a transactional sink
        // (idempotence itself is spec-pinned in SnapshotsSpec; this
        // fixture's run uses a fresh dir + temp checkpoint, so the
        // restart seeding is the PATTERN a durable deployment copies)
        val (v, committed) = Snapshots.commitIdempotentDetailed(s, dir,
          next, "lang", appId = s"stream_snapshot:$dir", batchId = batchId)
        if (committed) (next, v)
        else
          // the commit NO-OPED: this batch was a replay whose rows the
          // seeded state already contained, so the in-memory fold above
          // double-counted it — RESYNC from the committed truth (the
          // invariant after every batch: state == table@latest). The
          // verdict comes from the commit call ITSELF, never from
          // comparing v against the last version: a second writer
          // landing between the restart seed and this no-op would shift
          // the returned version and make the compare misread the
          // replay as fresh.
          (Snapshots.read(s, dir, "lang", v)
            .select("lang", "n_docs", "n_chars").localCheckpoint(), v)
    }
    (if (lastV == 0L)
      docs.limit(0).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    else
      Snapshots.read(s, dir, "lang", lastV)
        .select(col("lang"), col("n_docs"), col("n_chars")),
      applied, dir)
  }

  /** Streaming CONSUMER of the snapshot change feed — the loop-closer to
    * [[streamSnapshot]]'s producer: a `graft_snapshot_cdf` source whose
    * offsets are version numbers, each micro-batch a [[graft.sources.Snapshots.diff]]
    * step (sources/SnapshotChangeFeed.scala). The fixture is the
    * q_layout_merge CDC fold (3 versions via the file-grain merge) plus
    * one OPTIMIZE — which must emit NOTHING (dataVersion carry =
    * dataChange=false). The consumer folds the feed to the final state
    * by the feed's own contract: per partition, the 'added' rows of the
    * LAST version that touched it. That fixpoint must equal the batch
    * read of the final version regardless of how versions were batched
    * (invariance and checkpointed-restart exactly-once are pinned in
    * StreamingRobustnessSpec); the oracle states it from the raw log. */
  def streamChangefeed(s: SparkSession, d: String): DataFrame =
    streamChangefeedCounted(s, d, 1)._1

  /** returns (fold of the feed, batches observed, this run's table dir) */
  private[graft] def streamChangefeedCounted(s: SparkSession, d: String,
      maxVersionsPerBatch: Int): (DataFrame, Int, String) = {
    import graft.sources.Snapshots
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value").as("v"))
    // fresh per-run table dir (nanoTime beyond the session id: repeat
    // runs in one session must not stack onto one history)
    val dir = "/tmp/graft_stream_cdf_" +
      java.nio.file.Paths.get(d).getFileName.toString +
      "_" + s.sparkContext.applicationId + "_" + System.nanoTime()
    graft.operators.Sampling.deleteOnExit(dir)
    def batch(b: Int) = ev
      .filter(pmod(col("event_id"), lit(3)) === b)
      .groupBy("user_id")
      .agg(max("event_id").as("event_id"),
        max_by(col("v"), col("event_id")).as("v"))
      .withColumn("part", (col("user_id") % 4).cast("string"))
      .withColumn("op",
        when(pmod(col("event_id"), lit(29)) === 0, lit("D"))
          .otherwise(lit("U")))
    Snapshots.commit(s, dir, batch(0).filter(col("op") =!= "D").drop("op"),
      "part", statsColumns = Seq("user_id"))
    Snapshots.merge(s, dir, "part", "user_id", batch(1))
    Snapshots.merge(s, dir, "part", "user_id", batch(2))
    // compaction-as-version AFTER the fold: rewritten files carry their
    // dataVersion, so the feed below must not emit a single row for it
    Snapshots.optimize(s, dir, "part")
    val (feed, batches) = foldBatches(s.readStream.format("graft_snapshot_cdf")
        .option("path", dir).option("partCol", "part")
        .option("maxVersionsPerBatch", maxVersionsPerBatch.toString)
        .load(), null: DataFrame) {
      (feed, b, _) =>
        val bb = b.localCheckpoint()
        if (feed == null) bb else feed.unionByName(bb)
    }
    // the feed contract's fold: a changed partition's 'added' side is its
    // FULL new state, so final state = per partition, the added rows of
    // the last version that touched it (a partition whose last touch only
    // removed rows is dropped — no added rows at that version)
    val lastTouch = feed.groupBy("part")
      .agg(max("_commit_version").as("last_v"))
      .withColumnRenamed("part", "lt_part")
    val fin = feed.filter(col("change") === "added")
      .join(broadcast(lastTouch),
        col("part") === col("lt_part") &&
          col("_commit_version") === col("last_v"))
      .select("user_id", "event_id", "v")
    (fin, batches, dir)
  }

  def streamCdfRows(s: SparkSession, d: String): DataFrame =
    streamCdfRowsCounted(s, d, 1)._1

  /** The ROW-LEVEL change-feed consumer (rowLevel=true + keyCol): same
    * CDC fixture as [[streamChangefeedCounted]] (3 keyed merge versions
    * + a must-be-silent OPTIMIZE), but the stream delivers Delta-CDF row
    * images — insert / delete / update_preimage / update_postimage, each
    * stamped with its commit version — and the consumer folds STATE BY
    * KEY: a key's latest image wins, a final 'delete' drops it. The fold
    * lands on the same fixpoint as the final version's batch read, so
    * the oracle is q_stream_changefeed's verbatim; rows that merely rode
    * along in a rewritten partition never reach the consumer at all (the
    * row grain's whole point — the partition feed makes the consumer
    * re-derive state per partition instead). */
  private[graft] def streamCdfRowsCounted(s: SparkSession, d: String,
      maxVersionsPerBatch: Int): (DataFrame, Int, String) = {
    import graft.sources.Snapshots
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("value").as("v"))
    val dir = "/tmp/graft_stream_cdfrows_" +
      java.nio.file.Paths.get(d).getFileName.toString +
      "_" + s.sparkContext.applicationId + "_" + System.nanoTime()
    graft.operators.Sampling.deleteOnExit(dir)
    def batch(b: Int) = ev
      .filter(pmod(col("event_id"), lit(3)) === b)
      .groupBy("user_id")
      .agg(max("event_id").as("event_id"),
        max_by(col("v"), col("event_id")).as("v"))
      .withColumn("part", (col("user_id") % 4).cast("string"))
      .withColumn("op",
        when(pmod(col("event_id"), lit(29)) === 0, lit("D"))
          .otherwise(lit("U")))
    Snapshots.commit(s, dir, batch(0).filter(col("op") =!= "D").drop("op"),
      "part", statsColumns = Seq("user_id"))
    Snapshots.merge(s, dir, "part", "user_id", batch(1))
    Snapshots.merge(s, dir, "part", "user_id", batch(2))
    Snapshots.optimize(s, dir, "part")
    val (feed, batches) = foldBatches(s.readStream.format("graft_snapshot_cdf")
        .option("path", dir).option("partCol", "part")
        .option("rowLevel", "true").option("keyCol", "user_id")
        .option("maxVersionsPerBatch", maxVersionsPerBatch.toString)
        .load(), null: DataFrame) {
      (feed, b, _) =>
        val bb = b.localCheckpoint()
        if (feed == null) bb else feed.unionByName(bb)
    }
    // key-state fold: per key, the LATEST post-style image (insert /
    // update_postimage / delete) decides — delete drops the key, the
    // others carry the row. Pre-images are audit data, not state.
    val fin = feed
      .filter(col("change").isin("insert", "update_postimage", "delete"))
      .groupBy("user_id")
      .agg(max_by(struct(col("change"), col("event_id"), col("v")),
        col("_commit_version")).as("last"))
      .filter(col("last.change") =!= "delete")
      .select(col("user_id"), col("last.event_id").as("event_id"),
        col("last.v").as("v"))
    (fin, batches, dir)
  }

  private[graft] def streamDriftEmbeddingCounted(s: SparkSession, d: String,
      srcDir: String, glob: String,
      maxFilesPerTrigger: Int): (DataFrame, Int) = withStatePartitions(s, 4) {
    import graft.Exact.{dec, decOut}
    val emb = graft.sources.Tables.embeddings(s, d)
    def dims(df: DataFrame): DataFrame = df
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i"), col("xf").cast("double").as("x"))
    def sums(df: DataFrame): DataFrame = dims(df)
      .withColumn("split",
        when(col("vec_id") % 2 === 1, "shifted").otherwise("control"))
      .withColumn("xi",
        when(col("split") === "shifted" && col("i") === 7, col("x") + 0.5)
          .otherwise(col("x")))
      .groupBy("split", "i")
      .agg(sum(dec(col("xi"))).as("cs"), count(lit(1)).as("cc"))
    val ref = dims(emb).groupBy("i")
      .agg(decOut(sum(dec(col("x")))).as("rs"), count(lit(1)).as("rc"))
      .localCheckpoint()
    val (acc, applied) = foldBatches(
        fileFeed(s, emb.schema, srcDir, glob, maxFilesPerTrigger), null: DataFrame) {
      (acc, batch, _) =>
        val delta = sums(batch)
        if (acc == null) delta.localCheckpoint()
        else acc.unionByName(delta)
          .groupBy("split", "i")
          .agg(sum(col("cs")).as("cs"), sum(col("cc")).as("cc"))
          .localCheckpoint()
    }
    val cur = if (acc == null) sums(emb.limit(0)) else acc
    (cur.join(broadcast(ref), Seq("i"))
      .withColumn("shift_u",
        floor(abs(col("rs") / col("rc") - decOut(col("cs")) / col("cc")) * 1000000))
      .groupBy("split")
      .agg(sum(when(col("shift_u") > 100000, 1L).otherwise(0L)).as("n_dims_drifted"),
        max(col("shift_u")).as("max_shift_u"))
      .withColumn("drifted", col("n_dims_drifted") > 0),
      applied)
  }

  /** Streaming cardinality monitor (the q_stream_cardinality body): a
    * per-event-type KMV (theta) sketch maintained across micro-batches —
    * the ingest-time twin of q_agg_kmv. Each batch reduces its records to
    * distinct (event_type, h60) pairs, unions them into the running
    * sketch, and keeps only the k smallest hashes per type: state is AT
    * MOST k longs per type, forever. Keep-k-smallest of a union is a
    * semilattice merge (associative, commutative, idempotent), so the
    * final sketch — and the estimate — is batching-invariant, which is
    * exactly the fixpoint the oracle replays over the whole topic.
    *
    * Scale shape: at 100 TB the per-batch reduce is a map-side-combined
    * distinct on (type, hash) — record payloads never cross the
    * exchange — and the rank window runs over |types| * (k + batch
    * distinct) short rows. The monitor never holds the key universe. */
  private[graft] def streamCardinalityCounted(s: SparkSession, d: String,
      batches: Int = 3): (DataFrame, Int) = withStatePartitions(s, 4) {
    import org.apache.spark.sql.expressions.Window
    import graft.Exact.h60
    import graft.operators.Sketches.{KmvK, KmvNum}
    import s.implicits._
    val (sk, applied) = foldBatches(cardinalityFeed(s, d, batches),
        Seq.empty[(String, Long)].toDF("event_type", "h")) {
      (sk, batch, _) =>
        val bh = batch.select(col("event_type"),
            h60(concat(lit("kmv:"), col("user_id"))).as("h"))
          .distinct()
        sk.unionByName(bh).distinct()
          .withColumn("rn", row_number().over(
            Window.partitionBy("event_type").orderBy("h")))
          .filter(col("rn") <= KmvK)
          .select("event_type", "h")
          .localCheckpoint()
    }
    // theta = the k-th smallest retained hash; types that never reached
    // k distinct keys report their sketch size (exact by construction)
    val ranked = sk.withColumn("rn", row_number().over(
      Window.partitionBy("event_type").orderBy("h")))
    val out = ranked.groupBy("event_type")
      .agg(count(lit(1)).as("n_sketch"),
        max(when(col("rn") === KmvK, col("h"))).as("th"))
      .select(col("event_type"), col("n_sketch"),
        when(col("n_sketch") < KmvK, col("n_sketch"))
          .otherwise(expr(s"$KmvNum div th")).as("est"))
    (out, applied)
  }

  def streamCardinality(s: SparkSession, d: String): DataFrame =
    streamCardinalityCounted(s, d)._1

  /** Streaming frequency monitor (the q_stream_countmin body): a
    * count-min sketch over per-user event counts maintained across
    * micro-batches — the ingest-time twin of q_agg_countmin, and the
    * remaining classic sketch without a streaming twin (KMV has
    * q_stream_cardinality, histograms q_stream_drift). Each batch
    * pre-aggregates its user counts (map-side combine), hashes them
    * into the fixed depth-4 x width-1024 cell grid, and cell-wise ADDS
    * into the running sketch: state is at most 4096 longs, forever.
    * Cell addition commutes and associates, so the final cells — and
    * every estimate — are batching-invariant (pinned 1-vs-3 batches in
    * StreamingRobustnessSpec), which is exactly what the oracle replays
    * over the whole topic as one batch. The report joins the sketch's
    * min-over-rows estimate against the exact counts for the 20
    * heaviest users; est >= cnt always (collisions only inflate).
    *
    * Scale shape: at 100 TB each batch shuffles its DISTINCT user
    * counts (not event instances) into a constant-size aggregate; the
    * monitor never holds the key universe, and merging sketches from
    * any number of ingest sites is the same cell-wise sum. */
  private[graft] def streamCountminCounted(s: SparkSession, d: String,
      batches: Int = 3): (DataFrame, Int) = withStatePartitions(s, 4) {
    import graft.Exact.h60
    import graft.operators.Sketches.{CmD, CmW}
    import s.implicits._
    val (cells, applied) = foldBatches(cardinalityFeed(s, d, batches),
        Seq.empty[(Int, Long, Long)].toDF("j", "b", "c")) {
      (cells, batch, _) =>
        val bc = batch.groupBy("user_id").agg(count(lit(1)).as("cnt"))
          .select(col("cnt"),
            explode(sequence(lit(0), lit(CmD - 1))).as("j"), col("user_id"))
          .select(col("j"),
            (h60(concat(lit("cm"), col("j"), lit(":"), col("user_id"))) % CmW)
              .as("b"),
            col("cnt"))
          .groupBy("j", "b").agg(sum("cnt").as("c"))
        cells.unionByName(bc)
          .groupBy("j", "b").agg(sum("c").as("c"))
          .localCheckpoint()
    }
    val cnts = graft.sources.Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val top = cnts.orderBy(col("cnt").desc, col("user_id").asc).limit(20)
    val out = top.select(col("user_id"), col("cnt"),
        explode(sequence(lit(0), lit(CmD - 1))).as("j"))
      .withColumn("b",
        h60(concat(lit("cm"), col("j"), lit(":"), col("user_id"))) % CmW)
      .join(cells, Seq("j", "b"))
      .groupBy("user_id", "cnt").agg(min("c").as("est"))
      .select("user_id", "cnt", "est")
    (out, applied)
  }

  def streamCountmin(s: SparkSession, d: String): DataFrame =
    streamCountminCounted(s, d)._1

  /** Streaming top-k / heavy-hitters monitor (the q_stream_heavyhitters
    * body): a Misra-Gries sketch over a skewed stream key maintained
    * across micro-batches — the last mergeable sketch
    * (functions.HeavyHitters, q_agg_heavy_hitters) gaining a streaming
    * twin beside count-min (q_stream_countmin) and KMV
    * (q_stream_cardinality). Each batch folds its records into a batch
    * MG sketch with the SAME typed Aggregator the batch query uses,
    * then the running sketch absorbs it via the parallel-MG combine
    * (functions.HeavyHittersMerge): state is at most `capacity`
    * counters, forever. The stream key is the lowest set bit of
    * user_id — a geometric distribution (half the mass on "1", a
    * quarter on "2", ...), so heavy hitters genuinely exist.
    *
    * What is (and is not) batching-invariant: MG counter VALUES depend
    * on merge grouping, but the support GUARANTEE — every key with
    * true frequency > n/(capacity+1) is in the sketch, under any
    * merge order (Agarwal et al.) — does not. The report therefore
    * emits exact per-key counts plus the guarantee verdict `ok`
    * (which the sketch can only confirm, never flip), and THAT is the
    * batching-invariant output the oracle states over the whole topic
    * — same contract shape as the batch twin's `ok` column.
    *
    * Scale shape: each batch reduces map-side to its own
    * capacity-sized sketch before the 1-row combine; the monitor never
    * holds the key universe, and merging sketches from any number of
    * ingest sites is the same associative-up-to-the-guarantee fold. */
  private[graft] def streamHeavyHittersCounted(s: SparkSession, d: String,
      batches: Int = 3, capacity: Int = 4): (DataFrame, Int) =
    withStatePartitions(s, 4) {
    import org.apache.spark.sql.Encoders
    implicit val mapEnc = Encoders.kryo[Map[String, Long]]
    val (sketch, applied) = foldBatches(cardinalityFeed(s, d, batches),
        s.createDataset(Seq(Map.empty[String, Long]))) {
      (sketch, batch, _) =>
        val bs = batch
          .select(col("user_id").bitwiseAND(-col("user_id"))
            .cast("string").as("k"))
          .as[String](Encoders.STRING)
          .select(new graft.functions.HeavyHitters(capacity).toColumn)
        sketch.union(bs)
          .select(new graft.functions.HeavyHittersMerge(capacity).toColumn)
          .localCheckpoint()
    }
    val sketchKeys = sketch.flatMap(_.keys)(Encoders.STRING).toDF("hh_k")
    val agged = graft.sources.Tables.events(s, d)
      .select(col("user_id").bitwiseAND(-col("user_id"))
        .cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
    val tot = agged.agg(sum("n").as("total"))
    val out = agged.crossJoin(broadcast(tot))
      .join(broadcast(sketchKeys), col("k") === col("hh_k"), "left")
      .select(col("k"), col("n"),
        (col("n") * (capacity + 1) <= col("total") || col("hh_k").isNotNull)
          .as("ok"))
    (out, applied)
  }

  def streamHeavyHitters(s: SparkSession, d: String): DataFrame =
    streamHeavyHittersCounted(s, d)._1

  /** Streaming quantile monitor (the q_stream_quantile body): the
    * deterministic quantile sketch (operators.Sketches, r10) run as a
    * stream — each micro-batch builds its own constant-size partial
    * with the SAME rank-filter kernel the batch query uses
    * (quantileSketch, levels=5), partials accumulate, and the read
    * merges them with ceil(log2(#partials)) canonical halvings
    * (quantileMerge's topology) — the merge-at-read architecture a
    * 1000-executor job runs when shards ship partial sketches to a
    * coordinator. State is #batches x (batch/32) rows — bounded by the
    * admission cap, never by the stream.
    *
    * What the oracle states, as with the MG monitor: estimates from a
    * lossy rank sampler depend on where batch boundaries fall, so the
    * batching-invariant surface is exact per-group quantiles (rank
    * selection the oracle replays) plus the contract verdict `ok` —
    * the sketch estimate's true-rank band sits within 4x the final
    * sample weight of the target rank, the bound the 1-vs-k merge
    * spec pins — which must be TRUE under any batching. */
  private[graft] def streamQuantileCounted(s: SparkSession, d: String,
      batches: Int = 3): (DataFrame, Int) = withStatePartitions(s, 4) {
    import graft.operators.Sketches
    val feed = busFeed(s, FileBusFixture.ensureValueTopic(s, d), batches,
        "event_id" -> "long", "user_id" -> "long", "v" -> "double")
      .select((col("user_id") % 4).as("grp"),
        expr("CAST(round(v * 100) AS BIGINT)").as("cents"))
    val (partials, applied) = foldBatches(feed, null: DataFrame) {
      (partials, batch, _) =>
        val part = Sketches.quantileSketch(batch, "grp", "cents", levels = 5)
          .localCheckpoint()
        if (partials == null) part else partials.unionByName(part)
    }
    // Zero micro-batches (empty topic) leaves `partials` null — mirror
    // the minhash stream's guard and return an empty, correctly-typed
    // report instead of NPE-ing in the merge fold below.
    if (partials == null) {
      val empty = s.range(0).select(col("id").as("grp"),
        lit(0L).as("pct"), lit(0L).as("n"), lit(0L).as("exact_cents"),
        lit(true).as("ok")).limit(0)
      (empty, applied)
    } else {
      val rounds =
        if (applied <= 1) 0
        else 32 - Integer.numberOfLeadingZeros(applied - 1)
      val merged = (1 to rounds).foldLeft(partials)((df, _) =>
        Sketches.quantileHalve(df))
      val band = (32L << rounds) * 4L
      val pcts = Seq(1, 50, 99)
      val est = Sketches.quantileEstimate(merged, pcts)
      // exact side: one ranked pass over the events table (the oracle's
      // replayable half) + the target-rank read + the est-value rank band
      val ev = graft.sources.Tables.events(s, d)
        .select((col("user_id") % 4).as("grp"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val sizes = ev.groupBy("grp").agg(count(lit(1)).as("n"))
      val ranked = ev.join(broadcast(sizes), "grp")
        .withColumn("r0", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("grp")
            .orderBy(col("cents"))).cast("long") - 1)
        .localCheckpoint() // feeds the target read AND the est band
      val tgt = sizes.select(col("grp"), col("n"),
          explode(array(pcts.map(p => lit(p.toLong)): _*)).as("pct"))
        .withColumn("t", expr("(pct * (n - 1)) div 100"))
      val exact = tgt.join(ranked.select(col("grp"), col("cents"), col("r0")),
          Seq("grp")).filter(col("r0") === col("t"))
        .select(col("grp"), col("pct"), col("n"), col("t"),
          col("cents").as("exact_cents"))
      val estBand = est.join(
          ranked.select(col("grp"), col("cents").as("est"), col("r0")),
          Seq("grp", "est"))
        .groupBy("grp", "pct").agg(min("r0").as("lo"), max("r0").as("hi"))
      val out = exact.join(broadcast(estBand), Seq("grp", "pct"))
        .select(col("grp"), col("pct"), col("n"), col("exact_cents"),
          (col("t") >= col("lo") - band && col("t") <= col("hi") + band).as("ok"))
      (out, applied)
    }
  }

  def streamQuantile(s: SparkSession, d: String): DataFrame =
    streamQuantileCounted(s, d)._1

  /** Point-in-time dimension lookup at STREAM ingest (the
    * q_stream_dimlookup body): every arriving event is enriched with
    * the SCD2 dimension row valid AT ITS OWN EPOCH — the feature-store
    * rule ("features as of example time") that prevents training-time
    * leakage from later dimension versions. The history (customer base
    * + one applied change batch, graft.api.Graft.scdApply) is built
    * ONCE and broadcast; each micro-batch inner-joins it on the key
    * with the validity-interval predicate (events on keys deleted at
    * v1 enrich only in epoch 0 — the interval does the right thing),
    * then folds per-(segment, epoch) counts and exact-decimal value
    * sums into the running totals. Enrichment is stateless and the
    * fold is additive, so the result is batching-invariant; the oracle
    * states the identical history, key/epoch mapping, and aggregate
    * over the whole events table as one batch.
    *
    * Scale shape: at 100 TB the dimension history is keys x versions
    * (broadcastable or bucket-joinable); events never shuffle — each
    * batch reduces map-side to |segments| x |epochs| rows before the
    * totals fold. */
  private[graft] def streamDimLookupCounted(s: SparkSession, d: String,
      batches: Int = 3): (DataFrame, Int) = withStatePartitions(s, 4) {
    import graft.Exact.{dec, decOut}
    import s.implicits._
    val cust = graft.sources.Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    val hist = graft.api.Graft.scdApply(
        graft.operators.Sampling.scd2Base(cust),
        graft.operators.Sampling.scd2Batch1(cust),
        "c_custkey", version = 1L)
      .select("c_custkey", "c_mktsegment", "valid_from", "valid_to")
      .localCheckpoint()
    val zero = Seq.empty[(String, Long, Long)]
      .toDF("c_mktsegment", "epoch", "n_events")
      .withColumn("val_sum", lit(0).cast("decimal(38,10)"))
      .filter(lit(false))
    val (acc, applied) = foldBatches(
        busFeed(s, FileBusFixture.ensureValueTopic(s, d), batches,
          "event_id" -> "long", "user_id" -> "long", "v" -> "double"), zero) {
      (acc, batch, _) =>
        val enriched = batch
          .select((col("event_id") % 2).as("epoch"),
            (col("user_id") % 1500 + 1).as("ck"), col("v").as("value"))
          .join(broadcast(hist),
            col("c_custkey") === col("ck") &&
              col("valid_from") <= col("epoch") &&
              (col("valid_to").isNull || col("valid_to") > col("epoch")))
          .groupBy("c_mktsegment", "epoch")
          .agg(count(lit(1)).as("n_events"), sum(dec(col("value"))).as("val_sum"))
        acc.unionByName(enriched)
          .groupBy("c_mktsegment", "epoch")
          .agg(sum("n_events").as("n_events"),
            sum("val_sum").cast("decimal(38,10)").as("val_sum"))
          .localCheckpoint()
    }
    (acc.select(col("c_mktsegment"), col("epoch"), col("n_events"),
      decOut(col("val_sum")).as("total_value")), applied)
  }

  def streamDimLookup(s: SparkSession, d: String): DataFrame =
    streamDimLookupCounted(s, d)._1

  /** Ingest-time near-dup filter: arriving documents are MinHash-LSH
    * checked against a STATIC corpus index and dropped on any band
    * collision — the standard architecture for keeping near-copies of an
    * existing corpus out of a training set as data flows in.
    *
    * Build once / probe per batch: the corpus's `(band, bandkey)` index
    * (docs with `doc_id % 3 == 0`) is computed a single time
    * (localCheckpoint) before the stream starts; each micro-batch
    * computes its own band keys with the SAME codegen'd kernel
    * ([[graft.api.Graft.minhashBandKeys]] — batch semantics inside
    * foreachBatch) and left-anti semi-joins the index. Stateless and
    * batching-invariant: a doc's verdict depends only on its own text
    * and the fixed index, so ANY admission schedule converges to the
    * same kept set — which is exactly the fixpoint the oracle states.
    *
    * Scale shape: at 100 TB the index is bands x |corpus| short rows
    * (hashes, never documents) — bucket-joinable, AQE-skew-splittable;
    * arriving docs compute their signatures in-row (the native
    * MinHashSig kernel) after one doc_id exchange of their own text
    * (the [[graft.api.Graft.shingleArrays]] merge). Docs too short to
    * shingle (<3 tokens) have no bands and pass through, stated in the
    * oracle. */
  def streamNearDup(s: SparkSession, d: String): DataFrame = withStatePartitions(s, 8) {
    import graft.api.Graft
    val docs = graft.sources.Tables.documents(s, d)
    val corpusIdx = Graft.minhashBandKeys(
        Graft.shingleArrays(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text"))
      .select("band", "bandkey").distinct().localCheckpoint()
    val (kept, _) = foldBatches(fileFeed(s, docs.schema, d, "documents.parquet")
        .filter(col("doc_id") % 3 =!= 0), null: DataFrame) {
      (kept, batch, _) =>
        val hit = Graft.minhashBandKeys(Graft.shingleArrays(batch, "doc_id", "text"))
          .join(corpusIdx, Seq("band", "bandkey"), "left_semi")
          .select("doc_id").distinct()
        val keep = batch.select("doc_id").join(hit, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        if (kept == null) keep else kept.union(keep).localCheckpoint()
    }
    if (kept == null) s.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
    else kept
  }

  /** Model-based quality filtering AT INGEST — the streaming twin of
    * q_text_classifier: the class-balanced logistic model trains ONCE
    * on the static corpus split (doc_id % 3 = 0, "yesterday's corpus")
    * and its 1-row weight frame broadcasts into every micro-batch;
    * arriving docs get one stateless feature pass + the hard-sigmoid
    * score. No state store, no retraining mid-stream — train offline,
    * infer at the firehose (the fastText-filter deployment shape).
    * Stateless per batch => batching-invariant by construction; the
    * oracle replays training on the static split and states the scored
    * fixpoint over the arriving split. */
  def streamClassifier(s: SparkSession, d: String): DataFrame =
    streamClassifierCounted(s, d, d, "documents.parquet", 0)._1

  private[graft] def streamClassifierCounted(s: SparkSession, d: String,
      srcDir: String, glob: String,
      maxFilesPerTrigger: Int): (DataFrame, Int) = withStatePartitions(s, 8) {
    import graft.api.Graft
    val docs = graft.sources.Tables.documents(s, d)
    val w = Graft.qualityClassifierFit(docs.filter(col("doc_id") % 3 === 0))
    val (out, applied) = foldBatches(
        fileFeed(s, docs.schema, srcDir, glob, maxFilesPerTrigger)
          .filter(col("doc_id") % 3 =!= 0), null: DataFrame) {
      (out, batch, _) =>
        val scored = Graft.qualityScore(batch, w).localCheckpoint()
        if (out == null) scored else out.union(scored).localCheckpoint()
    }
    (if (out == null)
      s.emptyDataFrame.select(lit(0L).as("doc_id"), lit(0).as("y_heur"),
        lit(0.0).as("score"), lit(false).as("flagged")).limit(0)
    else out,
      applied)
  }

  /** Ingest-time containment (quote/excerpt) filter — the streaming twin
    * of q_dedup_containment, sharing `Graft.containmentPairs`' rare/hot
    * decomposition: the STATIC corpus side (doc_id % 3 = 0) builds the
    * df <= 64 rare-shingle inverted index and its hot complement ONCE
    * (checkpointed); each arriving micro-batch is shingled in-flight,
    * candidates come from the rare-index equi-join only, and the exact
    * intersection decomposes as inter = inter_rare + inter_hot with the
    * hot complement probed only for found candidates — no per-doc
    * arrays ship, the corpus index never rebuilds. An arriving doc is
    * DROPPED when >= 0.6 of its shingles sit inside one corpus doc (the
    * asymmetric quote rule; dividing by the ARRIVING doc's shingle
    * count is what makes it the ingest-time excerpt filter). Stateless
    * per batch (stream-static joins only), so output is batching-
    * invariant by construction — pinned in StreamingRobustnessSpec;
    * the oracle states the batching-free fixpoint with the batch
    * kernel's own CTEs. */
  def streamContainment(s: SparkSession, d: String): DataFrame =
    streamContainmentCounted(s, d, d, "documents.parquet", 0)._1

  /** [[streamContainment]] with a pluggable stream source (the
    * robustness spec splits the arriving docs into several files and
    * forces one file per trigger) and the applied-batch count. */
  private[graft] def streamContainmentCounted(s: SparkSession, d: String,
      srcDir: String, glob: String,
      maxFilesPerTrigger: Int): (DataFrame, Int) = withStatePartitions(s, 8) {
    val docs = graft.sources.Tables.documents(s, d)
    // document frequency rides each corpus shingle row via one window
    // count, so the rare index and its hot complement are FILTERS of
    // the same materialization (the containmentPairs r18 shape) instead
    // of semi/anti joins against a re-aggregated df list
    val corp = graft.operators.Dedup
      .shingleRows(docs.filter(col("doc_id") % 3 === 0))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang", "shingle")))
      .localCheckpoint() // feeds idx, hot
    val idx = corp.filter(col("df") <= 64)
      .select(col("doc_id").as("j"), col("lang"), col("shingle"))
      .localCheckpoint()
    val hot = corp.filter(col("df") > 64)
      .select(col("doc_id").as("j"), col("lang"), col("shingle"))
      .localCheckpoint()
    val (kept, applied) = foldBatches(
        fileFeed(s, docs.schema, srcDir, glob, maxFilesPerTrigger)
          .filter(col("doc_id") % 3 =!= 0), null: DataFrame) {
      (kept, batch, _) =>
        val sh = graft.operators.Dedup.shingleRows(batch).localCheckpoint()
        val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("c"))
        val interIdx = sh.join(idx, Seq("lang", "shingle"))
          .groupBy("doc_id", "j").agg(count(lit(1)).as("n_idx"))
          .localCheckpoint() // feeds the hot probe AND the drop verdict
        val interHot = interIdx.select("doc_id", "j")
          .join(sh, Seq("doc_id"))
          .join(hot, Seq("j", "lang", "shingle"))
          .groupBy("doc_id", "j").agg(count(lit(1)).as("n_hot"))
        val drop = interIdx.join(interHot, Seq("doc_id", "j"), "left")
          .withColumn("inter", col("n_idx") + coalesce(col("n_hot"), lit(0L)))
          .join(cnt, Seq("doc_id"))
          .filter(col("inter").cast("double") / col("c") >= 0.6)
          .select("doc_id").distinct()
        val keep = batch.select("doc_id")
          .join(drop, Seq("doc_id"), "left_anti").localCheckpoint()
        if (kept == null) keep else kept.union(keep).localCheckpoint()
    }
    (if (kept == null) s.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
     else kept,
      applied)
  }

  /** Partitioned, offset-replayable ingestion: the [[FileBus]] topic at
    * `dir` fed through the same windowed aggregation as [[socketIngest]].
    * Unstarted — caller owns sink, checkpoint, and state sizing (set
    * `spark.sql.shuffle.partitions` before `.start()`). `extraOptions`
    * passes through `startingOffsets` / `maxRecordsPerTrigger`. */
  def busIngest(s: SparkSession, dir: String,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val reader = s.readStream.format(classOf[FileBusProvider].getName)
      .option("path", dir)
    extraOptions.foreach { case (k, v) => reader.option(k, v) }
    ingestAgg(reader.load().select(col("value")))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_events_sliding_stream",
      (s: SparkSession, d: String) => slidingStream(s, d),
      Some("""SELECT ws, event_type, count(*) AS n FROM (
        |  SELECT unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |                 date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR]) AS ws,
        |    event_type
        |  FROM events) t
        |GROUP BY ws, event_type
        |""".stripMargin),
      bench = false),

    QueryDef(
      "q_join_stream_stream",
      """SELECT p.event_id AS p_id, c.event_id AS c_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 5 MINUTE
        | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        |""".stripMargin) { (s, d) => purchaseClickJoin(s, d) },

    QueryDef(
      "q_events_session_stream",
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |marked AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM marked),
        |agg AS (
        |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |    count(*) AS n_events, min(ts_us) AS session_start_us,
        |    max(session_id) OVER (PARTITION BY user_id) AS max_sid
        |  FROM sess GROUP BY user_id, session_id)
        |SELECT user_id, session_id, n_events, session_start_us
        |FROM agg WHERE session_id < max_sid
        |""".stripMargin) { (s, d) => sessionStream(s, d) },

    QueryDef(
      "q_join_stream_left",
      (s: SparkSession, d: String) => purchaseClickLeftJoin(s, d),
      Some("""WITH p AS (SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id, CAST(ts AS TIMESTAMP) AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |wm AS (SELECT least((SELECT (epoch_us(max(p_ts)) // 1000) * 1000 FROM p),
        |                    (SELECT (epoch_us(max(c_ts)) // 1000) * 1000 FROM c))
        |              - 3600000000 AS w_us),
        |m AS (SELECT p.p_id, c.c_id FROM p JOIN c
        |      ON c.user_id = p.user_id
        |     AND c_ts >= p_ts - INTERVAL 5 MINUTE AND c_ts <= p_ts)
        |SELECT p_id, c_id FROM m
        |UNION ALL
        |SELECT p.p_id, -1 AS c_id FROM p, wm
        |WHERE epoch_us(p.p_ts) < wm.w_us
        |  AND NOT EXISTS (SELECT 1 FROM m WHERE m.p_id = p.p_id)
        |""".stripMargin),
      bench = false),

    QueryDef(
      "q_stream_dedup",
      "SELECT DISTINCT user_id, event_type FROM events") { (s, d) =>
      streamDedup(s, d) },

    QueryDef(
      "q_events_tumbling_stream",
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
        |  count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2
        |""".stripMargin) { (s, d) => tumblingStream(s, d) },

    // Bus ingestion end-to-end under the hard gate: a deterministic
    // FileBus topic (events rows keyed to 4 partitions — see
    // FileBusFixture for the producer-role framing) read back through the
    // DSv2 batch scan and the SAME ingestAgg body the socket and
    // micro-batch rungs run, oracled by DuckDB over the very same p*.log
    // files. The oracle path names the sf0.01 topic (the driver's
    // correctness gate always verifies at sf0.01 — its contract), and
    // graft.Verify rewrites the sf suffix at dump time to whatever sf dir
    // it runs against, so scale checks at sf0.1 hash-verify the bus
    // family too; each sf keeps its own topic dir so runs at other
    // scales can't clobber the one the oracle reads. Completes the reference residue:
    // framed-socket record ingestion (`robust_socket_io.py:16-112`,
    // `tools.py:71-99`) as a replayable partitioned log.
    // The SINK half of the bus contract under the same hard gate: read
    // the deterministic topic, filter to purchase/click records, WRITE
    // them through the DSv2 FileBus sink (task-staged files, broker-role
    // driver commit) into a fresh topic, then read THAT topic back and
    // aggregate. The oracle recomputes the aggregate from the ORIGINAL
    // p*.log files with the same filter — any record the producer path
    // dropped, duplicated, or mangled breaks the hash. The supplied
    // offset column is ignored by the sink (the log assigns offsets),
    // exactly as Kafka's producer contract.
    QueryDef(
      "q_bus_roundtrip",
      """SELECT date_trunc('hour', make_timestamp(ts_us)) AS window_start, event_type,
        |  count(*) AS n, CAST(round(sum(CAST(v AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_value
        |FROM read_csv('/tmp/graft_bus_topic_sf0.01/p*.log',
        |  columns={'ts_us': 'BIGINT', 'event_type': 'VARCHAR', 'v': 'DOUBLE'},
        |  header=false, auto_detect=false)
        |WHERE event_type IN ('purchase', 'click')
        |GROUP BY 1, 2
        |""".stripMargin) { (s, d) =>
      val topic = FileBusFixture.ensureTopic(s, d)
      val sink = FileBusFixture.freshSinkTopic(d, "roundtrip")
      s.read.format(classOf[FileBusProvider].getName)
        .option("path", topic).load()
        .filter(split(col("value"), ",").getItem(1).isin("purchase", "click"))
        .select(col("partition"), lit(0L).as("offset"), col("value"))
        .write.format(classOf[FileBusProvider].getName)
        .option("path", sink).mode("append").save()
      ingestAgg(s.read.format(classOf[FileBusProvider].getName)
        .option("path", sink).load().select(col("value")))
    },

    QueryDef(
      "q_bus_ingest",
      """SELECT date_trunc('hour', make_timestamp(ts_us)) AS window_start, event_type,
        |  count(*) AS n, CAST(round(sum(CAST(v AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_value
        |FROM read_csv('/tmp/graft_bus_topic_sf0.01/p*.log',
        |  columns={'ts_us': 'BIGINT', 'event_type': 'VARCHAR', 'v': 'DOUBLE'},
        |  header=false, auto_detect=false)
        |GROUP BY 1, 2
        |""".stripMargin) { (s, d) =>
      val topic = FileBusFixture.ensureTopic(s, d)
      ingestAgg(s.read.format(classOf[FileBusProvider].getName)
        .option("path", topic).load().select(col("value")))
    },

    // Kafka-style log compaction under the hard gate: compact the keyed
    // topic (latest record per user_id, per partition, source order
    // preserved) into a fresh topic through the DSv2 sink, read THAT back
    // and emit (part, off, user_id, event_id, v). The oracle recomputes
    // latest-per-key from the ORIGINAL p*.log files — and re-derives the
    // compacted topic's dense offsets from the preserved order, so a
    // survivor that is dropped, duplicated, or written out of order
    // breaks the hash. The fixture sorts each partition by event_id, so
    // source-offset order IS event_id order and the oracle can state
    // "latest by offset" as max(event_id) without seeing line numbers.
    QueryDef(
      "q_bus_compact",
      """WITH r AS (
        |  SELECT user_id, event_id, v
        |  FROM read_csv('/tmp/graft_bus_keyed_sf0.01/p*.log',
        |    columns={'user_id': 'BIGINT', 'event_id': 'BIGINT', 'v': 'DOUBLE'},
        |    header=false, auto_detect=false)),
        |latest AS (
        |  SELECT CAST(user_id % 4 AS INT) AS part, user_id,
        |    max(event_id) AS event_id, arg_max(v, event_id) AS v
        |  FROM r GROUP BY user_id)
        |SELECT part,
        |  CAST(row_number() OVER (PARTITION BY part ORDER BY event_id) - 1 AS BIGINT) AS off,
        |  user_id, event_id, v
        |FROM latest
        |""".stripMargin) { (s, d) =>
      val topic = FileBusFixture.ensureKeyedTopic(s, d)
      val out = FileBusFixture.freshSinkTopic(d, "compact")
      FileBusCompact.compact(s, topic, out)
      s.read.format(classOf[FileBusProvider].getName)
        .option("path", out).load()
        .select(col("partition").as("part"), col("offset").as("off"),
          split(col("value"), ",").getItem(0).cast("long").as("user_id"),
          split(col("value"), ",").getItem(1).cast("long").as("event_id"),
          split(col("value"), ",").getItem(2).cast("double").as("v"))
    },

    QueryDef(
      "q_stream_decontaminate",
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> ''), ' ')) AS fp
        |  FROM documents)
        |SELECT t.doc_id, t.fp FROM fp t
        |WHERE t.doc_id % 50 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM fp e WHERE e.doc_id % 50 = 0 AND e.fp = t.fp)
        |""".stripMargin) { (s, d) => decontaminateStream(s, d) },

    // Streaming CDC upsert: the bus change feed folded through the MERGE
    // shape batch-by-batch (foreachBatch). The oracle ignores batching
    // entirely and states the fixpoint over the raw log — latest change
    // per key, minus keys whose latest change is a tombstone — so a
    // batching bug (lost batch, reordered apply, tombstone resurrection)
    // breaks the hash.
    QueryDef(
      "q_stream_upsert",
      """SELECT user_id, event_id, v FROM (
        |  SELECT user_id, max(event_id) AS event_id, arg_max(v, event_id) AS v
        |  FROM read_csv('/tmp/graft_bus_keyed_sf0.01/p*.log',
        |    columns={'user_id': 'BIGINT', 'event_id': 'BIGINT', 'v': 'DOUBLE'},
        |    header=false, auto_detect=false)
        |  GROUP BY user_id) t
        |WHERE event_id % 29 <> 0
        |""".stripMargin) { (s, d) => streamUpsert(s, d) },

    // Streaming EWMA: the order-dependent per-user recursive fold
    // maintained as two scalars of mapGroupsWithState state (Update
    // mode — the numeric-state twin of the sessionizer's). The keyed
    // feed is per-user event_id-ascending and per-user ts is monotone in
    // event_id, so the streamed fold replays the batch analytic's exact
    // order and the oracle (the identical list_reduce over the topic
    // log) hash-matches on raw doubles. Multi-batch state carry is
    // pinned in StreamingRobustnessSpec.
    QueryDef(
      "q_stream_ewma",
      """SELECT user_id, count(*) AS n_events,
        |  list_reduce(list(value ORDER BY event_id),
        |              (acc, x) -> 0.5 * acc + 0.5 * x) AS ewma_value
        |FROM read_csv('/tmp/graft_bus_keyed_sf0.01/p*.log',
        |  columns={'user_id': 'BIGINT', 'event_id': 'BIGINT', 'value': 'DOUBLE'},
        |  header=false, auto_detect=false)
        |GROUP BY user_id
        |""".stripMargin) { (s, d) => streamEwma(s, d) },

    // Ingest-time near-dup filter: stream docs dropped on any LSH band
    // collision with the static corpus index. The oracle restates the
    // whole minhash kernel (same CTEs as q_dedup_minhash) and the
    // batching-free fixpoint: kept = stream docs with no (band, bandkey)
    // shared with a corpus doc; too-short docs have no bands and pass.
    QueryDef(
      "q_stream_neardup",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
        |  FROM documents
        |  WHERE len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest([array_to_string(l[i:i+2], ' ') for i in range(1, greatest(len(l) - 1, 1))]) AS shingle
        |    FROM tok) u),
        |h2 AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS ha,
        |    ('0x' || substr(md5(shingle), 16, 15))::BIGINT % 72057594037927936 AS hb
        |  FROM sh),
        |hv AS (
        |  SELECT doc_id, i, min((ha + i * hb) % 1152921504606846976) AS mh
        |  FROM h2, range(16) r(i) GROUP BY 1, 2),
        |sig AS (SELECT doc_id, list(mh ORDER BY i) AS sig FROM hv GROUP BY 1),
        |banded AS (
        |  SELECT doc_id, b, md5(array_to_string(sig[b*4+1:b*4+4], ',')) AS bandkey
        |  FROM sig, range(4) r2(b)),
        |hits AS (
        |  SELECT DISTINCT s.doc_id
        |  FROM banded s JOIN banded c ON c.b = s.b AND c.bandkey = s.bandkey
        |  WHERE s.doc_id % 3 <> 0 AND c.doc_id % 3 = 0)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 3 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = d.doc_id)
        |""".stripMargin) { (s, d) => streamNearDup(s, d) },

    // Model-based quality filter at ingest: the trained logistic model
    // (q_text_classifier's trainer) fit ONCE on the static corpus
    // split, broadcast into every micro-batch, arriving docs scored
    // statelessly — batching-invariant by construction (spec-pinned);
    // the oracle replays the training GD on the static split and
    // states the scored fixpoint over the arriving split.
    QueryDef(
      "q_stream_classifier",
      graft.functions.TextAnalysis.streamClassifierOracle) { (s, d) =>
      streamClassifier(s, d)
    },

    // Ingest-time containment filter: arriving docs dropped when >= 60%
    // of their shingles sit inside one static-corpus doc — the
    // quote/excerpt rule at the ingest boundary (the asymmetric twin of
    // q_stream_neardup's banded minhash). Candidates from the corpus'
    // rare-shingle index, exact intersection via the batch kernel's
    // rare/hot decomposition; the oracle states the batching-free
    // fixpoint with q_dedup_containment's own CTE shapes.
    QueryDef(
      "q_stream_containment",
      """WITH tok AS (
        |  SELECT doc_id, lang, list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS l
        |  FROM documents WHERE len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '')) >= 3),
        |sh AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, lang, shingle FROM (
        |    SELECT doc_id, lang,
        |      unnest([array_to_string(l[i:i+2], ' ') for i in range(1, greatest(len(l) - 1, 1))]) AS shingle
        |    FROM tok) u),
        |corp AS (SELECT * FROM sh WHERE doc_id % 3 = 0),
        |arr AS (SELECT * FROM sh WHERE doc_id % 3 <> 0),
        |rare AS (SELECT lang, shingle FROM corp GROUP BY 1, 2 HAVING count(*) <= 64),
        |idx AS (SELECT c.doc_id, c.lang, c.shingle FROM corp c JOIN rare r
        |  ON r.lang = c.lang AND r.shingle = c.shingle),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
        |  FROM arr a JOIN idx b ON a.lang = b.lang AND a.shingle = b.shingle),
        |cnt AS (SELECT doc_id, count(*) AS c FROM arr GROUP BY 1),
        |inter AS (
        |  SELECT c.i, c.j, count(*) AS n FROM cand c
        |  JOIN arr a ON a.doc_id = c.i
        |  JOIN corp b ON b.doc_id = c.j AND b.shingle = a.shingle AND b.lang = a.lang
        |  GROUP BY 1, 2),
        |dropped AS (
        |  SELECT DISTINCT i FROM inter JOIN cnt ON cnt.doc_id = i
        |  WHERE CAST(n AS DOUBLE) / cnt.c >= 0.6)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 3 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM dropped x WHERE x.i = d.doc_id)
        |""".stripMargin) { (s, d) => streamContainment(s, d) },

    // Incremental view maintenance: a per-cohort (count, decimal-sum)
    // rollup of the CDC feed's CURRENT state, maintained by retraction +
    // insertion deltas batch by batch — never recomputed. The oracle
    // states the batching-free fixpoint (rollup over latest-per-key
    // minus tombstoned keys): a missed retraction or double-applied
    // delta breaks the hash.
    QueryDef(
      "q_stream_ivm",
      """SELECT user_id % 10 AS cohort, count(*)::BIGINT AS n_users,
        |  CAST(round(sum(CAST(v AS DECIMAL(38,10))), 4) AS DOUBLE) AS sum_v
        |FROM (
        |  SELECT user_id, max(event_id) AS event_id, arg_max(v, event_id) AS v
        |  FROM read_csv('/tmp/graft_bus_keyed_sf0.01/p*.log',
        |    columns={'user_id': 'BIGINT', 'event_id': 'BIGINT', 'v': 'DOUBLE'},
        |    header=false, auto_detect=false)
        |  GROUP BY user_id) t
        |WHERE event_id % 29 <> 0
        |GROUP BY cohort
        |""".stripMargin) { (s, d) => streamIvm(s, d) },

    // Cohort retention at stream ingest: the triangle maintained
    // incrementally via the IVM retraction pattern — the descending
    // fixture feed forces mid-stream re-cohorting, so stale cells must
    // be retracted and migrated, not just accumulated. The oracle is
    // the batching-free fixpoint (the batch triangle over the whole
    // topic); a missed retraction strands counts under dead cohorts and
    // breaks the hash. Batching-invariance (1 vs 4 batches) is pinned
    // in StreamingRobustnessSpec.
    QueryDef(
      "q_stream_retention",
      """WITH w AS (
        |  SELECT DISTINCT user_id,
        |    (ts_us - 1704067200000000) // 604800000000 AS week
        |  FROM read_csv('/tmp/graft_bus_ret_sf0.01/p*.log',
        |    columns={'user_id': 'BIGINT', 'ts_us': 'BIGINT'},
        |    header=false, auto_detect=false)),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1)
        |SELECT c.cohort_week, w.week - c.cohort_week AS offset_weeks,
        |  count(*)::BIGINT AS n_users
        |FROM w JOIN cohort c USING (user_id)
        |GROUP BY 1, 2
        |""".stripMargin) { (s, d) => streamRetention(s, d) },

    // Streaming quality monitor: row-local constraint violations counted
    // per micro-batch and accumulated — additive predicates, so the
    // totals are batching-invariant and the oracle states them over the
    // topic logs directly. One constraint fails on the fixtures (error
    // events exist), proving detection; the rest hold.
    QueryDef(
      "q_stream_quality",
      """WITH t AS (
        |  SELECT ts_us, event_type, v
        |  FROM read_csv('/tmp/graft_bus_topic_sf0.01/p*.log',
        |    columns={'ts_us': 'BIGINT', 'event_type': 'VARCHAR', 'v': 'DOUBLE'},
        |    header=false, auto_detect=false))
        |SELECT 'type_domain' AS constraint_name,
        |  sum(CASE WHEN event_type NOT IN ('click', 'view', 'purchase', 'signup', 'error') THEN 1 ELSE 0 END)::BIGINT AS violations,
        |  sum(CASE WHEN event_type NOT IN ('click', 'view', 'purchase', 'signup', 'error') THEN 1 ELSE 0 END) = 0 AS pass FROM t
        |UNION ALL
        |SELECT 'no_error_events',
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 0 FROM t
        |UNION ALL
        |SELECT 'value_range',
        |  sum(CASE WHEN v <= 0 OR v > 400 THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN v <= 0 OR v > 400 THEN 1 ELSE 0 END) = 0 FROM t
        |UNION ALL
        |SELECT 'ts_window',
        |  sum(CASE WHEN ts_us < 1704067200000000 OR ts_us >= 1706745600000000 THEN 1 ELSE 0 END)::BIGINT,
        |  sum(CASE WHEN ts_us < 1704067200000000 OR ts_us >= 1706745600000000 THEN 1 ELSE 0 END) = 0 FROM t
        |""".stripMargin) { (s, d) => streamQuality(s, d) },

    // Streaming drift monitor: the feed's value histogram accumulated
    // per micro-batch, L1-compared against the static reference built
    // from the same topic — click values planted 1.5x hot in-flight, so
    // the click row must drift and every other type is its own control.
    // Additive bins make the totals batching-invariant; the oracle
    // recomputes both histograms and the fold from the log files.
    // bench=false: breadth entry — the timing story for per-batch
    // histogram accumulation is already carried by q_stream_quality
    // (same admission schedule, same constant-size per-batch reduce).
    QueryDef(
      "q_stream_drift",
      """WITH t AS (
        |  SELECT event_type, v
        |  FROM read_csv('/tmp/graft_bus_topic_sf0.01/p*.log',
        |    columns={'ts_us': 'BIGINT', 'event_type': 'VARCHAR', 'v': 'DOUBLE'},
        |    header=false, auto_detect=false)),
        |ref AS (
        |  SELECT event_type, CAST(floor(v / 50.0) AS BIGINT) AS bin, count(*)::BIGINT AS rc
        |  FROM t GROUP BY 1, 2),
        |cur AS (
        |  SELECT event_type,
        |    CAST(floor(CASE WHEN event_type = 'click' THEN v * 1.5 ELSE v END / 50.0) AS BIGINT) AS bin,
        |    count(*)::BIGINT AS cc
        |  FROM t GROUP BY 1, 2)
        |SELECT event_type,
        |  sum(abs(coalesce(rc, 0) - coalesce(cc, 0)))::BIGINT AS l1_dist,
        |  sum(abs(coalesce(rc, 0) - coalesce(cc, 0))) * 20 > sum(coalesce(rc, 0)) AS drifted
        |FROM ref FULL OUTER JOIN cur USING (event_type, bin)
        |GROUP BY event_type
        |""".stripMargin,
      bench = false) { (s, d) => streamDrift(s, d) },

    // EMBEDDING drift at ingest — the vector-space member of the monitor
    // family (see streamDriftEmbedding's doc): per-(split, dim) decimal
    // sums accumulate across batches (exact, associative => batching-
    // invariant), micro-unit rounding once at read-out, reference from
    // the static corpus. The oracle is q_quality_drift_embedding's
    // fixpoint verbatim.
    QueryDef(
      "q_stream_drift_embedding",
      graft.operators.Quality.embeddingDriftOracle) { (s, d) =>
      streamDriftEmbedding(s, d)
    },

    // Versioned streaming ingest (see streamSnapshot's doc): micro-batch
    // folds committed as snapshot versions via the atomic manifest
    // rename; the LAST version's read-back must equal the batch
    // fixpoint regardless of batching (integer fold = associative), so
    // the oracle is one GROUP BY over the corpus.
    QueryDef(
      "q_stream_snapshot",
      """SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS n_chars
        |FROM documents GROUP BY lang
        |""".stripMargin) { (s, d) => streamSnapshot(s, d) },

    // Streaming change-feed consumer (see streamChangefeed's doc):
    // offsets = snapshot versions, one diff step per version, initial
    // full snapshot, OPTIMIZE suppressed (dataChange=false). The fold of
    // the whole feed must equal the final version's batch state — the
    // oracle states that fixpoint from the raw log exactly as
    // q_layout_merge's 'final' side.
    QueryDef(
      "q_stream_changefeed",
      """WITH e AS (
  SELECT user_id, event_id, value AS v, event_id % 3 AS b FROM events),
perb AS (
  SELECT user_id, b, max(event_id) AS event_id, arg_max(v, event_id) AS v
  FROM e GROUP BY 1, 2),
fin AS (
  SELECT user_id, arg_max(event_id, b) AS event_id, arg_max(v, b) AS v,
         arg_max(event_id, b) % 29 = 0 AS del
  FROM perb GROUP BY user_id)
SELECT user_id, event_id, v FROM fin WHERE NOT del
""".stripMargin) { (s, d) => streamChangefeed(s, d) },

    // ROW-LEVEL streaming change feed (see streamCdfRows' doc): the same
    // CDC fold consumed as Delta-CDF row images (insert / delete /
    // update_pre/postimage per commit version, rowLevel=true + keyCol),
    // folded by KEY instead of by partition. Both consumers must land on
    // the same fixpoint — the oracle is q_stream_changefeed's verbatim.
    QueryDef(
      "q_stream_cdf_rows",
      """WITH e AS (
  SELECT user_id, event_id, value AS v, event_id % 3 AS b FROM events),
perb AS (
  SELECT user_id, b, max(event_id) AS event_id, arg_max(v, event_id) AS v
  FROM e GROUP BY 1, 2),
fin AS (
  SELECT user_id, arg_max(event_id, b) AS event_id, arg_max(v, b) AS v,
         arg_max(event_id, b) % 29 = 0 AS del
  FROM perb GROUP BY user_id)
SELECT user_id, event_id, v FROM fin WHERE NOT del
""".stripMargin) { (s, d) => streamCdfRows(s, d) },

    // Streaming cardinality monitor: per-type distinct-user estimates
    // maintained as constant-size KMV sketches across micro-batches.
    // Keep-k-smallest of unions is a semilattice merge, so the estimate
    // is batching-invariant and the oracle replays the identical sketch
    // (same h60 hashes, same rank, same floor division) over the topic
    // logs as one batch. Batching-invariance (1 vs 3 batches) is pinned
    // in StreamingRobustnessSpec.
    QueryDef(
      "q_stream_cardinality",
      s"""WITH du AS (
         |  SELECT DISTINCT event_type, user_id
         |  FROM read_csv('/tmp/graft_bus_card_sf0.01/p*.log',
         |    columns={'event_type': 'VARCHAR', 'user_id': 'BIGINT'},
         |    header=false, auto_detect=false)),
         |hd AS (SELECT DISTINCT event_type,
         |  ('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 15))::BIGINT AS h
         |  FROM du),
         |r AS (SELECT event_type, h,
         |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM hd),
         |sk AS (SELECT event_type, h, rn FROM r WHERE rn <= ${graft.operators.Sketches.KmvK})
         |SELECT event_type, count(*)::BIGINT AS n_sketch,
         |  CASE WHEN count(*) < ${graft.operators.Sketches.KmvK} THEN count(*)::BIGINT
         |       ELSE ${graft.operators.Sketches.KmvNum} // max(CASE WHEN rn = ${graft.operators.Sketches.KmvK} THEN h END) END AS est
         |FROM sk GROUP BY event_type
         |""".stripMargin) { (s, d) => streamCardinality(s, d) },

    // Streaming frequency monitor: a count-min sketch over per-user
    // event counts folded cell-wise across micro-batches (constant
    // 4x1024 state). Cell addition is commutative/associative, so the
    // sketch is batching-invariant and the oracle replays the identical
    // construction (same h60 cells, same min-over-rows read) over the
    // topic log as one batch; est >= cnt one-sided error by
    // construction. Batching-invariance is pinned in
    // StreamingRobustnessSpec.
    QueryDef(
      "q_stream_countmin",
      s"""WITH ev AS (
         |  SELECT user_id
         |  FROM read_csv('/tmp/graft_bus_card_sf0.01/p*.log',
         |    columns={'event_type': 'VARCHAR', 'user_id': 'BIGINT'},
         |    header=false, auto_detect=false)),
         |cnts AS (SELECT user_id, count(*)::BIGINT AS cnt FROM ev GROUP BY user_id),
         |cells AS (
         |  SELECT j, ('0x' || substr(md5('cm' || j::VARCHAR || ':' || user_id::VARCHAR), 1, 15))::BIGINT % ${graft.operators.Sketches.CmW} AS b,
         |    sum(cnt)::BIGINT AS c
         |  FROM cnts, UNNEST([0, 1, 2, 3]) u(j) GROUP BY 1, 2),
         |top AS (SELECT user_id, cnt FROM cnts ORDER BY cnt DESC, user_id LIMIT 20)
         |SELECT t.user_id, t.cnt, min(cl.c) AS est
         |FROM top t, UNNEST([0, 1, 2, 3]) u(j)
         |JOIN cells cl ON cl.j = u.j
         |  AND cl.b = ('0x' || substr(md5('cm' || u.j::VARCHAR || ':' || t.user_id::VARCHAR), 1, 15))::BIGINT % ${graft.operators.Sketches.CmW}
         |GROUP BY t.user_id, t.cnt
         |""".stripMargin) { (s, d) => streamCountmin(s, d) },

    // Streaming heavy-hitters: the Misra-Gries sketch folded across
    // micro-batches via the parallel-MG combine — the last mergeable
    // sketch gaining a streaming twin. The stream key (lowest set bit
    // of user_id) is geometric, so true heavy hitters exist; the
    // report emits exact per-key counts plus the support-guarantee
    // verdict (every key above n/(capacity+1) must be in the sketch —
    // preserved under ANY merge grouping, so `ok` is the
    // batching-invariant surface and the oracle states it as the
    // constant TRUE the batch twin q_agg_heavy_hitters pins).
    // Batching-invariance of the full report is pinned 1-vs-3-vs-5
    // batches in StreamingRobustnessSpec.
    QueryDef(
      "q_stream_heavyhitters",
      """SELECT k, n, true AS ok FROM (
        |  SELECT CAST(user_id & -user_id AS VARCHAR) AS k, count(*) AS n
        |  FROM events GROUP BY 1) t
        |""".stripMargin) { (s, d) => streamHeavyHitters(s, d) },

    // Streaming quantile monitor: per-batch partial sketches + a
    // canonical merge at read (the coordinator pattern). The oracle
    // states the EXACT per-group quantiles by rank selection — the
    // replayable half — plus the contract verdict the lossy estimate
    // must always satisfy; see streamQuantileCounted for why estimates
    // themselves are not the invariant surface.
    QueryDef(
      "q_stream_quantile",
      """WITH v AS (
        |  SELECT user_id % 4 AS grp, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |r AS MATERIALIZED (
        |  SELECT grp, cents,
        |    row_number() OVER (PARTITION BY grp ORDER BY cents) - 1 AS r0,
        |    count(*) OVER (PARTITION BY grp) AS n
        |  FROM v),
        |g AS (SELECT grp, max(n) AS n FROM r GROUP BY grp),
        |tgt AS (
        |  SELECT g.grp, g.n, CAST(u.pct AS BIGINT) AS pct,
        |    (CAST(u.pct AS BIGINT) * (g.n - 1)) // 100 AS t
        |  FROM g, UNNEST([1, 50, 99]) u(pct))
        |SELECT t.grp, t.pct, t.n, r.cents AS exact_cents, true AS ok
        |FROM tgt t JOIN r ON r.grp = t.grp AND r.r0 = t.t
        |""".stripMargin) { (s, d) => streamQuantile(s, d) },

    // Point-in-time dimension lookup at ingest: events enriched with
    // the SCD2 dimension row valid at their own epoch (feature-store
    // "as of example time" semantics — no leakage from later versions),
    // then folded into per-(segment, epoch) totals. Stateless broadcast
    // enrichment + additive fold = batching-invariant; the oracle
    // restates the history build, the key/epoch mapping, and the
    // interval join over the whole events table.
    QueryDef(
      "q_stream_dimlookup",
      """WITH chg AS (
        |  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
        |    CAST(NULL AS DOUBLE) AS c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment, 'D' AS op
        |  FROM customer WHERE c_custkey % 17 = 3
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 100.0, 'RESEGMENTED', 'U'
        |  FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 17 <> 3
        |  UNION ALL
        |  SELECT -c_custkey, c_name || ' (copy)', c_acctbal, c_mktsegment, 'I'
        |  FROM customer WHERE c_custkey % 25 = 7),
        |h1 AS (
        |  SELECT b.c_custkey, b.c_mktsegment,
        |    0::BIGINT AS valid_from,
        |    CASE WHEN c.c_custkey IS NULL THEN CAST(NULL AS BIGINT) ELSE 1::BIGINT END AS valid_to
        |  FROM customer b LEFT JOIN chg c ON c.c_custkey = b.c_custkey
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, 1::BIGINT, CAST(NULL AS BIGINT)
        |  FROM chg WHERE op <> 'D'),
        |ev AS (SELECT event_id % 2 AS epoch, user_id % 1500 + 1 AS ck, value FROM events)
        |SELECT h.c_mktsegment, ev.epoch, count(*) AS n_events,
        |  CAST(round(sum(CAST(ev.value AS DECIMAL(38,10))), 4) AS DOUBLE) AS total_value
        |FROM ev JOIN h1 h ON h.c_custkey = ev.ck
        |  AND h.valid_from <= ev.epoch
        |  AND (h.valid_to IS NULL OR h.valid_to > ev.epoch)
        |GROUP BY h.c_mktsegment, ev.epoch
        |""".stripMargin) { (s, d) => streamDimLookup(s, d) },

    // Streaming mixture/budget monitor (r11): the pre-flight twin of
    // q_sample_mixture + q_sample_budget. Arriving documents are priced
    // statelessly (token count, hash-fractional epoch copies — the
    // exact q_sample_mixture copy rule) and folded into a per-language
    // complete-mode aggregate scored against the 20k token budget.
    // Additive fold over a stateless map => batching-invariant by
    // construction; the oracle replays the monitor as one GROUP BY.
    QueryDef(
      "q_stream_mixture",
      """WITH c AS (
        |  SELECT lang,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
        |    (r // 100) + CASE WHEN ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT % 100 < r % 100
        |      THEN 1 ELSE 0 END AS copies
        |  FROM (SELECT doc_id, lang, text,
        |          CASE lang WHEN 'en' THEN 150 WHEN 'de' THEN 100 WHEN 'fr' THEN 50
        |                    WHEN 'es' THEN 25 WHEN 'zh' THEN 10 ELSE 0 END AS r
        |        FROM documents) t)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS raw_tokens,
        |  CAST(sum(copies) AS BIGINT) AS mix_docs,
        |  CAST(sum(copies * n_tok) AS BIGINT) AS mix_tokens,
        |  CAST(20000 AS BIGINT) AS budget,
        |  CAST(sum(copies * n_tok) AS BIGINT) > 20000 AS over_budget,
        |  greatest(CAST(sum(copies * n_tok) AS BIGINT) - 20000, 0) AS excess_tokens
        |FROM c GROUP BY lang
        |""".stripMargin) { (s, d) => mixtureStream(s, d) },

    // Streaming tokenizer application: the BPE vocab is trained ONCE on
    // the static corpus (Graft.bpeTrain), then every arriving micro-batch
    // is encoded by a broadcast stream-static join — stateless per row;
    // the complete-mode per-doc aggregate makes the result
    // batching-invariant, so the oracle is the batch twin's
    // (q_text_bpe_encode), training replay included.
    QueryDef("q_stream_bpe_encode",
      graft.functions.TextAnalysis.bpeEncodeOracle) { (s, d) =>
      bpeEncodeStream(s, d)
    }
  )
}
