package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftExtensions, SparkEntry}
import graft.sources.Tables

/** Closed-loop benchmark client: one JVM, one session, one query at a time.
  *
  * Phases, in order:
  *  1. session start, then one footer read per fixture table;
  *  2. the check pass: every query written to Parquet under `<work>/out`
  *     for the output check done after the JVM exits;
  *  3. `warm - 1` further untimed passes through the `noop` sink;
  *  4. `timed` measured passes through the `noop` sink. With tracing on,
  *     `timed` untraced and `timed` traced passes alternate, so the
  *     tracing overhead is measured on the same JVM.
  *
  * Every pass runs the queries in an order drawn from the run seed.
  * Listeners are attached only for the check pass (to learn which
  * fixture tables the workload reads) and for traced passes; untraced
  * passes run with no listener of ours attached. Raw measurements go to
  * `<work>/result.json`, spans and per-query rows to `<work>/trace.jsonl`.
  *
  * Usage: Harness <fixture> <work> <seed> <warm> <timed> <trace 0|1> <q1,q2,..>
  */
object Harness {

  final case class Sample(query: String, buildS: Double, execS: Double, ok: Boolean)

  final case class PassResult(index: Int, kind: String, wallS: Double,
      order: Seq[String], samples: Seq[Sample], layers: Map[String, Double])

  private val tableFns: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  def main(args: Array[String]): Unit = {
    val Array(fixture, work, seedS, warmS, timedS, traceS, qs) = args
    val seed = seedS.toLong
    val (warm, timed, traced) = (warmS.toInt, timedS.toInt, traceS == "1")
    val queries = qs.split(",").toSeq
    val workDir = new File(work)
    val tmpRoot = Paths.get("/tmp")
    val preexisting = listNames(tmpRoot)
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stopTimeout", "30s")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(workDir, "local").getPath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tableFns.values.foreach(f => f(spark, fixture).schema)
    val sessionStartS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, fixture)
    val rnd = new Random(seed)
    var attempted = 0
    var failed = 0
    val passes = mutable.ArrayBuffer[PassResult]()

    def runQuery(pass: Int, q: String, sink: DataFrame => Unit): Sample = {
      attempted += 1
      val span = s"p$pass/$q"
      val b0 = System.nanoTime()
      var b1 = b0
      try {
        tracer.enter(s"$span/build")
        val df = SparkEntry.queries(q)(spark, fixture)
        b1 = System.nanoTime()
        tracer.analyzed(s"$span/build", df.queryExecution)
        tracer.enter(s"$span/exec")
        sink(df)
        val e1 = System.nanoTime()
        tracer.endQuery(span, b0, b1, e1)
        Sample(q, (b1 - b0) / 1e9, (e1 - b1) / 1e9, ok = true)
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] $q failed in pass $pass: ${e.getMessage}")
          spark.streams.active.foreach(s => scala.util.Try(s.stop()))
          Sample(q, (b1 - b0) / 1e9, (System.nanoTime() - b1) / 1e9, ok = false)
      } finally tracer.enter(null)
    }

    def runPass(index: Int, kind: String, sink: String => DataFrame => Unit): PassResult = {
      val order = rnd.shuffle(queries)
      val trace = kind == "traced" || kind == "check"
      if (trace) tracer.attach(index)
      val startMs = System.currentTimeMillis()
      val p0 = System.nanoTime()
      val samples = order.map(q => runQuery(index, q, sink(q)))
      val wallS = (System.nanoTime() - p0) / 1e9
      val endMs = System.currentTimeMillis()
      val layers =
        if (kind != "traced") Map.empty[String, Double]
        else tracer.passLayers(index, startMs, endMs, wallS) ++
          diskLayers(tmpRoot, preexisting, startMs) ++ scanLayers(index)
      if (trace) tracer.detach()
      PassResult(index, kind, wallS, order, samples, layers)
    }

    def scanLayers(index: Int): Map[String, Double] = {
      var scanS = 0.0
      for (t <- tracer.tables.toSeq.sorted) {
        tracer.enter(s"p$index/scan/$t")
        val s0 = System.nanoTime()
        tableFns(t)(spark, fixture).write.format("noop").mode("overwrite").save()
        scanS += (System.nanoTime() - s0) / 1e9
        tracer.enter(null)
      }
      tracer.flush()
      val acc = tracer.sumWhere(k => k.startsWith(s"p$index/scan/"))
      Map("sources.scan_s" -> scanS, "sources.scan_tasks" -> acc.tasks.toDouble)
    }

    val noop: String => DataFrame => Unit =
      _ => df => df.write.format("noop").mode("overwrite").save()
    val parquet: String => DataFrame => Unit = q => df =>
      df.coalesce(1).write.mode("overwrite").parquet(new File(workDir, s"out/$q").getPath)

    val w0 = System.nanoTime()
    passes += runPass(0, "check", parquet)
    for (i <- 1 until warm) passes += runPass(i, "warmup", noop)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val firstTimedMs = System.currentTimeMillis()
    // with tracing on, untraced and traced passes alternate in ABBA order
    // so that warm-up drift does not favour either kind
    val kinds = (0 until timed).flatMap { i =>
      if (!traced) Seq("untraced")
      else if (i % 2 == 0) Seq("untraced", "traced")
      else Seq("traced", "untraced")
    }
    for ((kind, i) <- kinds.zipWithIndex) passes += runPass(warm + i, kind, noop)

    tracer.writeSpans(new File(workDir, "trace.jsonl"), passes.toSeq)
    spark.stop()
    val out = new PrintWriter(new File(workDir, "result.json"))
    try out.println(Json.obj(Seq(
      "cores" -> cores,
      "session_start_s" -> sessionStartS,
      "warmup_s" -> warmupS,
      "first_timed_epoch_ms" -> firstTimedMs,
      "attempted" -> attempted,
      "failed" -> failed,
      "check_failed" -> passes.head.samples.filterNot(_.ok).map(_.query),
      "tables" -> tracer.tables.toSeq.sorted,
      "rss_hwm_kb" -> vmHwmKb(),
      "passes" -> passes.toSeq.map(p => Json.obj(Seq(
        "index" -> p.index, "kind" -> p.kind, "wall_s" -> p.wallS,
        "order" -> p.order,
        "samples" -> p.samples.map(s => Json.obj(Seq(
          "query" -> s.query, "build_s" -> s.buildS, "exec_s" -> s.execS,
          "ok" -> s.ok))),
        "layers" -> Json.obj(p.layers.toSeq.sortBy(_._1))))))))
    finally out.close()
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def listNames(dir: Path): Set[String] =
    Option(dir.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  /** Bytes and files under the temp directory that this JVM created:
    * entries that were there before it started are not counted. */
  private def diskLayers(root: Path, preexisting: Set[String],
      sinceMs: Long): Map[String, Double] = {
    var bytes = 0L
    var files = 0L
    for (name <- listNames(root) -- preexisting) {
      val walk = Files.walk(root.resolve(name))
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        val f = p.toFile
        bytes += f.length()
        if (f.lastModified() >= sinceMs) files += 1
      } catch { case _: java.io.UncheckedIOException => () }
      finally walk.close()
    }
    Map("snapshots.disk_mb" -> bytes / 1e6, "snapshots.files_written" -> files.toDouble)
  }
}

/** Counters summed over the tasks, stages, jobs, plans and micro-batches
  * that one span caused. */
final class Acc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, overheadMs = 0L
  var inBytes, inRows, outBytes, shWrite, shRead, fetchWaitMs, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var batches, addBatchMs, walMs, commitOffsetsMs, stateCommitMs = 0L
  val batchMs = mutable.ArrayBuffer[Long]()
  val stateRows = mutable.Map[java.util.UUID, Long]()
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  var skewMax = 1.0

  def +=(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; overheadMs += o.overheadMs
    inBytes += o.inBytes; inRows += o.inRows; outBytes += o.outBytes
    shWrite += o.shWrite; shRead += o.shRead; fetchWaitMs += o.fetchWaitMs
    spill += o.spill
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
    batches += o.batches; addBatchMs += o.addBatchMs; walMs += o.walMs
    commitOffsetsMs += o.commitOffsetsMs; stateCommitMs += o.stateCommitMs
    batchMs ++= o.batchMs; stateRows ++= o.stateRows; jobSpans ++= o.jobSpans
    skewMax = math.max(skewMax, o.skewMax)
  }
}

object Tracer {
  /** Local property naming the span (`p<pass>/<query>/<build|exec>`) a
    * job belongs to; jobs of stream micro-batches inherit it from the
    * thread that started the stream. */
  val SpanKey = "graftbench.span"
  /** Job-tag prefix carrying the same span into SQL execution events,
    * which do not carry local properties. */
  private val TagPrefix = "graftbench-span="
  private val Marker = "graftbench.marker"
}

/** The benchmark's listeners: a SparkListener, a QueryExecutionListener
  * and a StreamingQueryListener, attached per pass. Everything they see
  * is summed into one [[Acc]] per span; job spans are kept for the
  * sidecar. */
final class Tracer(spark: SparkSession, fixture: String) {
  import Tracer._

  @volatile var currentSpan: String = _
  val tables = mutable.Set[String]()
  private val accs = mutable.Map[String, Acc]()
  private val stageSpan = mutable.Map[Int, String]()
  private val stageRuns = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val jobInfo = mutable.Map[Int, (String, Long)]()
  private val execSpan = mutable.Map[Long, String]()
  private var endedQe: QueryExecution = _
  @volatile private var attached = false
  private val runSpan = mutable.Map[java.util.UUID, String]()
  private val jobRows = mutable.ArrayBuffer[Json.Obj]()
  private val queryRows = mutable.Map[String, (Long, Long, Long)]()
  private var streamsStarted, streamsEnded = 0
  private var pass = -1
  private var markerDone: CountDownLatch = _
  private val fixtureDir = new File(fixture).getCanonicalFile

  private def acc(span: String): Acc = synchronized {
    accs.getOrElseUpdate(Option(span).getOrElse(s"p$pass/unattributed"), new Acc)
  }

  def sumWhere(p: String => Boolean): Acc = synchronized {
    val a = new Acc
    accs.filter(kv => p(kv._1)).values.foreach(a += _)
    a
  }

  def endQuery(span: String, b0: Long, b1: Long, e1: Long): Unit = synchronized {
    queryRows(span) = (b0, b1, e1)
  }

  /** Makes `span` (or none) the span of everything this thread starts. */
  def enter(span: String): Unit = {
    val sc = spark.sparkContext
    sc.getJobTags().filter(_.startsWith(TagPrefix)).foreach(sc.removeJobTag)
    sc.setLocalProperty(SpanKey, span)
    if (span != null) sc.addJobTag(TagPrefix + span)
    currentSpan = span
  }

  /** The analysis time of a query's returned DataFrame. It is spent on the
    * calling thread while the query is built, outside any SQL execution,
    * so no listener sees it. */
  def analyzed(span: String, qe: QueryExecution): Unit =
    if (attached) {
      val ms = qe.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
      synchronized { acc(span).analysisMs += ms }
    }

  /** Plan phases of one SQL execution, from its QueryExecution's tracker. */
  private def addPlan(execId: Long, qe: QueryExecution): Unit = {
    val a = acc(execSpan.getOrElse(execId, null))
    val ph = qe.tracker.phases
    a.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    a.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    a.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      if (!props.exists(_.getProperty(Marker) != null)) {
        val span = props.flatMap(p => Option(p.getProperty(SpanKey))).orNull
        acc(span).jobs += 1
        e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
        jobInfo(e.jobId) = (span, e.time)
      }
    }

    /** A SQL execution's span comes from its job tags. Its plan phases
      * reach the QueryExecutionListener, which is not told the execution
      * id. ExecutionListenerBus calls that listener while it dispatches
      * the execution's end event on the shared listener queue; this
      * listener, added to the same queue later, gets the same event right
      * after and pairs the two. Were that order ever different, no phase
      * would be attributed and run.py would reject the traced run. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        s.jobTags.find(_.startsWith(TagPrefix))
          .foreach(t => execSpan(s.executionId) = t.stripPrefix(TagPrefix))
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        if (endedQe != null) addPlan(s.executionId, endedQe)
        execSpan.remove(s.executionId)
        endedQe = null
      }
      case _ => ()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobInfo.remove(e.jobId) match {
        case Some((span, start)) =>
          acc(span).jobSpans += ((start, e.time))
          jobRows += Json.obj(Seq("span" -> s"job${e.jobId}",
            "parent" -> Option(span).getOrElse(""), "kind" -> "job",
            "trace" -> Option(span).map(_.split("/").take(2).mkString("/")).getOrElse(""),
            "start_ms" -> start, "end_ms" -> e.time))
        case None => if (markerDone != null) markerDone.countDown()
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val id = e.stageInfo.stageId
        val a = acc(stageSpan.getOrElse(id, null))
        a.stages += 1
        stageRuns.remove(id).filter(_.size >= 2).foreach { rs =>
          val sorted = rs.sorted
          val med = sorted(sorted.size / 2)
          if (med > 0) a.skewMax = math.max(a.skewMax, sorted.last.toDouble / med)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val a = acc(stageSpan.getOrElse(e.stageId, null))
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled
        stageRuns.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)

    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      endedQe = qe
      if (pass == 0) scala.util.Try(qe.optimizedPlan.collectWithSubqueries {
        case l: LogicalRelation => l.relation
      }).getOrElse(Nil).foreach {
        case h: HadoopFsRelation => h.location.rootPaths.foreach { p =>
          val f = new File(p.toUri.getPath).getCanonicalFile
          if (f.getParentFile == fixtureDir && f.getName.endsWith(".parquet"))
            tables += f.getName.stripSuffix(".parquet")
        }
        case _ => ()
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        runSpan(e.runId) = currentSpan
        streamsStarted += 1
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val a = acc(runSpan.getOrElse(p.runId, null))
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        a.batches += 1
        a.batchMs += d("triggerExecution")
        a.addBatchMs += d("addBatch")
        a.walMs += d("walCommit")
        a.commitOffsetsMs += d("commitOffsets")
        p.stateOperators.foreach(s => a.stateCommitMs += s.commitTimeMs)
        a.stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized { streamsEnded += 1 }
  }

  def attach(index: Int): Unit = {
    synchronized { pass = index }
    attached = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    flush()
    attached = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the listener bus has delivered every event posted so
    * far: a marker job's end is delivered after all earlier events of
    * the shared queue; stream events have their own queue, so also wait
    * for every started stream's termination event. */
  def flush(): Unit = {
    val latch = new CountDownLatch(1)
    synchronized { markerDone = latch }
    val sc = spark.sparkContext
    sc.setLocalProperty(Marker, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Marker, null)
    latch.await(10, TimeUnit.SECONDS)
    val deadline = System.nanoTime() + 5e9.toLong
    while (synchronized(streamsEnded < streamsStarted) && System.nanoTime() < deadline)
      Thread.sleep(10)
  }

  /** Per-layer counters of one pass, summed over its query spans. */
  def passLayers(index: Int, startMs: Long, endMs: Long, wallS: Double): Map[String, Double] = {
    flush()
    val prefix = s"p$index/"
    val all = sumWhere(k => k.startsWith(prefix) && !k.startsWith(prefix + "scan/"))
    val build = sumWhere(k => k.startsWith(prefix) && k.endsWith("/build"))
    val (buildS, execS, streamBuildS) = synchronized {
      val rows = queryRows.filter(_._1.startsWith(prefix))
      val streamSpans = runSpan.values.filter(s => s != null && s.startsWith(prefix))
        .map(s => s.substring(0, s.lastIndexOf('/'))).toSet
      (rows.values.map(r => (r._2 - r._1) / 1e9).sum,
        rows.values.map(r => (r._3 - r._2) / 1e9).sum,
        rows.filter(r => streamSpans(r._1)).values.map(r => (r._2 - r._1) / 1e9).sum)
    }
    val busyMs = union(all.jobSpans.toSeq, startMs, endMs)
    val sortedBatch = all.batchMs.sorted
    Map(
      "sources.input_mb" -> all.inBytes / 1e6,
      "sources.input_rows" -> all.inRows.toDouble,
      "operators.build_s" -> buildS,
      "operators.build_jobs" -> build.jobs.toDouble,
      "operators.exec_s" -> execS,
      "plan.analysis_ms" -> all.analysisMs.toDouble,
      "plan.optimization_ms" -> all.optimizationMs.toDouble,
      "plan.planning_ms" -> all.planningMs.toDouble,
      "sched.jobs" -> all.jobs.toDouble,
      "sched.stages" -> all.stages.toDouble,
      "sched.tasks" -> all.tasks.toDouble,
      "sched.driver_gap_s" -> math.max(0.0, wallS - busyMs / 1e3),
      "sched.task_overhead_s" -> all.overheadMs / 1e3,
      "exec.task_s" -> all.runMs / 1e3,
      "exec.cpu_s" -> all.cpuNs / 1e9,
      "exec.gc_s" -> all.gcMs / 1e3,
      "exec.skew_max" -> all.skewMax,
      "shuffle.write_mb" -> all.shWrite / 1e6,
      "shuffle.read_mb" -> all.shRead / 1e6,
      "shuffle.fetch_wait_s" -> all.fetchWaitMs / 1e3,
      "shuffle.spill_mb" -> all.spill / 1e6,
      "snapshots.output_mb" -> all.outBytes / 1e6,
      "streaming.batches" -> all.batches.toDouble,
      "streaming.batch_ms_p50" ->
        (if (sortedBatch.isEmpty) 0.0 else sortedBatch(sortedBatch.size / 2).toDouble),
      "streaming.add_batch_ms" -> all.addBatchMs.toDouble,
      "streaming.wal_commit_ms" -> all.walMs.toDouble,
      "streaming.commit_offsets_ms" -> all.commitOffsetsMs.toDouble,
      "streaming.lifecycle_s" -> math.max(0.0, streamBuildS - all.batchMs.sum / 1e3),
      "streaming.state_rows" -> all.stateRows.values.sum.toDouble,
      "streaming.state_commit_ms" -> all.stateCommitMs.toDouble)
  }

  /** Milliseconds of [start, end] covered by at least one job. */
  private def union(spans: Seq[(Long, Long)], start: Long, end: Long): Long = {
    var covered = 0L
    var reach = start
    for ((s, e) <- spans.sortBy(_._1)) {
      val lo = math.max(s, reach)
      val hi = math.min(e, end)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    covered
  }

  /** Sidecar: one row per pass (kind, wall time, query order), one row
    * per traced query execution (build/exec seconds and its counters),
    * one row per traced pass of what could not be placed in a query,
    * then the spans query -> build|exec -> job. */
  def writeSpans(f: File, passes: Seq[Harness.PassResult]): Unit = synchronized {
    val out = new PrintWriter(f)
    try {
      for (p <- passes)
        out.println(Json.obj(Seq("row" -> "pass", "pass" -> p.index, "kind" -> p.kind,
          "wall_s" -> p.wallS, "order" -> p.order)))
      for (p <- passes if p.kind == "traced"; s <- p.samples) {
        val span = s"p${p.index}/${s.query}"
        val a = new Acc
        accs.filter(_._1.startsWith(span + "/")).values.foreach(a += _)
        out.println(Json.obj(Seq("row" -> "query", "pass" -> p.index,
          "query" -> s.query, "ok" -> s.ok, "build_s" -> s.buildS, "exec_s" -> s.execS,
          "jobs" -> a.jobs, "build_jobs" -> accs.get(span + "/build").map(_.jobs).getOrElse(0L),
          "stages" -> a.stages, "tasks" -> a.tasks, "task_s" -> a.runMs / 1e3,
          "shuffle_write_mb" -> a.shWrite / 1e6, "shuffle_read_mb" -> a.shRead / 1e6,
          "spill_mb" -> a.spill / 1e6, "analysis_ms" -> a.analysisMs,
          "optimization_ms" -> a.optimizationMs, "planning_ms" -> a.planningMs,
          "stream_batches" -> a.batches)))
      }
      // what the listeners saw during a traced pass but could not place
      for (p <- passes if p.kind == "traced"; a <- accs.get(s"p${p.index}/unattributed"))
        out.println(Json.obj(Seq("row" -> "unattributed", "pass" -> p.index,
          "jobs" -> a.jobs, "tasks" -> a.tasks, "task_s" -> a.runMs / 1e3,
          "analysis_ms" -> a.analysisMs, "optimization_ms" -> a.optimizationMs,
          "planning_ms" -> a.planningMs)))
      // nanoTime readings moved onto the epoch-millisecond clock of job events
      val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
      def ms(n: Long): Double = offsetMs + n / 1e6
      for ((span, (b0, b1, e1)) <- queryRows.toSeq.sortBy(_._2._1)) {
        out.println(Json.obj(Seq("span" -> span, "parent" -> "", "kind" -> "query",
          "trace" -> span, "start_ms" -> ms(b0), "end_ms" -> ms(e1))))
        out.println(Json.obj(Seq("span" -> s"$span/build", "parent" -> span,
          "kind" -> "build", "trace" -> span, "start_ms" -> ms(b0), "end_ms" -> ms(b1))))
        out.println(Json.obj(Seq("span" -> s"$span/exec", "parent" -> span,
          "kind" -> "exec", "trace" -> span, "start_ms" -> ms(b1), "end_ms" -> ms(e1))))
      }
      jobRows.foreach(out.println)
    } finally out.close()
  }
}

/** Minimal JSON rendering for the harness's own output. */
object Json {
  final case class Obj(text: String) {
    override def toString: String = text
  }

  def obj(kvs: Seq[(String, Any)]): Obj =
    Obj(kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case o: Obj => o.text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
