package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.perfbench.ListenerBus

/** Per-layer tracing for a traced run, built only from listeners the
  * benchmark registers itself plus the harness's own timing of the
  * builder call and the result write:
  *
  *  - a `SparkListener` for jobs, stages, tasks and cached blocks;
  *  - a `QueryExecutionListener` per pass session for planning time;
  *  - a `StreamingQueryListener` per pass session for micro-batches.
  *
  * The listeners are attached for traced passes only ([[attach]],
  * [[detach]]), so the untraced passes of the same run are the
  * reference for `trace.overhead_frac`.
  *
  * Each job is charged to the phase the client thread was in when the
  * job was submitted (`build`: inside the query's builder, `exec`:
  * inside the timed write) and to the module of the innermost `graft.*`
  * frame of its call site. A job whose call site has no such frame (the
  * benchmark's own write, a stream's micro-batch thread) is charged to
  * its query's module in `queryModules`; `none` is left for jobs outside
  * any query. Spans stay in memory and are written to `spans.jsonl` by
  * [[finish]]. Metrics are per traced pass.
  */
final class Tracer(spark: SparkSession, cores: Int, queryModules: Map[String, String]) {
  import Tracer._

  private val sc = spark.sparkContext
  private val marks = mutable.ArrayBuffer.empty[Mark]
  private val querySpans = mutable.ArrayBuffer.empty[QuerySpan]
  private var pass = -1

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var cachePeakBytes = 0L
  @volatile private var cachePeakBlocks = 0
  private val planMs = new java.util.concurrent.atomic.AtomicLong()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()

  private val sqlModules = new ConcurrentHashMap[Long, String]()

  private val sparkListener = new SparkListener {
    // a SQL execution's call site is taken on the thread that ran the
    // action; its jobs may be submitted from other threads (adaptive
    // query stages, broadcasts), whose own call sites hold no user frame
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => sqlModules.put(x.executionId, moduleOf(x.details))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val module = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => Option(sqlModules.get(id.toLong)))
        .getOrElse(moduleOf(details))
      jobs.put(e.jobId, new JobRec(e.jobId, e.time, module))
      e.stageIds.foreach(id => stageJob.putIfAbsent(id, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val st = new StageRec(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      stages.put(e.stageInfo.stageId, st)
      job(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      Option(stages.get(e.stageId)).foreach { st =>
        st.synchronized {
          if (st.firstLaunchMs < 0 || e.taskInfo.launchTime < st.firstLaunchMs)
            st.firstLaunchMs = e.taskInfo.launchTime
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      job(e.stageId).foreach { j =>
        j.synchronized {
          j.taskEnds += 1
          if (e.taskInfo.successful) j.taskSuccesses += 1
          val m = e.taskMetrics
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            j.spill += m.diskBytesSpilled
            j.inBytes += m.inputMetrics.bytesRead
            j.inRows += m.inputMetrics.recordsRead
            j.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) blocks.synchronized {
        if (info.storageLevel.isValid)
          blocks.put(info.blockId.name, info.memSize + info.diskSize)
        else blocks.remove(info.blockId.name)
        cachePeakBytes = math.max(cachePeakBytes, blocks.values.asScala.map(_.longValue).sum)
        cachePeakBlocks = math.max(cachePeakBlocks, blocks.size)
      }
    }
  }

  private def job(stageId: Int): Option[JobRec] =
    Option(stageJob.get(stageId)).flatMap(id => Option(jobs.get(id)))

  private var sessionListeners =
    Option.empty[(SparkSession, QueryExecutionListener, StreamingQueryListener)]

  /** Starts a traced pass on session `s`. */
  def attach(s: SparkSession): Unit = {
    pass += 1
    // blocks dropped while detached sent no events to us; a pass starts
    // after Caches.clearAll, with nothing of the program's cached
    blocks.clear()
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit =
        planMs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    }
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L),
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum))
      }
    }
    s.listenerManager.register(planListener)
    s.streams.addListener(streamListener)
    sc.addSparkListener(sparkListener)
    sessionListeners = Some((s, planListener, streamListener))
  }

  /** Ends a traced pass: waits until the listeners have received every
    * event posted so far, then removes them. */
  def detach(): Unit = {
    ListenerBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    sessionListeners.foreach { case (s, planListener, streamListener) =>
      s.listenerManager.unregister(planListener)
      s.streams.removeListener(streamListener)
    }
    sessionListeners = None
  }

  /** The client thread enters `phase` of `query` now. */
  def mark(query: String, phase: String): Unit =
    marks += Mark(System.currentTimeMillis(), pass, query, phase)

  def endQuery(query: String, startMs: Long, buildS: Double, execS: Double): Unit =
    querySpans += QuerySpan(pass, query, startMs, buildS, execS)

  /** Writes the spans and returns the per-layer metrics as a JSON object.
    * Every traced pass has been detached. */
  def finish(outDir: String, walls: Seq[Double], untraced: Seq[Double]): String = {
    val sortedMarks = marks.sortBy(_.ms)
    def markAt(ms: Long): Option[Mark] = sortedMarks.takeWhile(_.ms <= ms).lastOption
    val traced = jobs.values.asScala.toSeq.sortBy(_.id)
      .flatMap(j => markAt(j.submitMs).map(m => j -> m))
    def module(j: JobRec, mk: Mark): String =
      if (j.module != "none") j.module else queryModules.getOrElse(mk.query, "none")
    val nPass = math.max(1, pass + 1).toDouble
    def per(x: Double): Double = x / nPass
    def sumJ(sel: Seq[(JobRec, Mark)])(f: JobRec => Double): Double = sel.map(p => f(p._1)).sum

    val buildS = querySpans.map(_.buildS).sum
    val execS = querySpans.map(_.execS).sum
    val byPhase = traced.groupBy(_._2.phase).withDefaultValue(Seq.empty)
    val taskEnds = sumJ(traced)(_.taskEnds)
    val tracedStages = traced.flatMap(p => stageJob.asScala.collect {
      case (st, jid) if jid == p._1.id => st
    })
    val schedWaitMs = tracedStages.flatMap(id => Option(stages.get(id)))
      .filter(_.firstLaunchMs >= 0).map(st => (st.firstLaunchMs - st.submitMs).toDouble).sum

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("build.s") = per(buildS)
    m("build.jobs") = per(byPhase("build").size)
    m("build.share") = if (buildS + execS > 0) buildS / (buildS + execS) else 0.0
    m("plan.s") = per(planMs.get / 1e3)
    m("exec.s") = per(execS)
    m("exec.jobs") = per(byPhase("exec").size)
    m("jobs") = per(traced.size)
    m("stages") = per(sumJ(traced)(_.stages))
    m("tasks") = per(taskEnds)
    m("sched.wait_s") = per(schedWaitMs / 1e3)
    m("core_util") = sumJ(traced)(_.runMs) / 1e3 / math.max(1e-9, walls.sum * cores)
    m("task.run_s") = per(sumJ(traced)(_.runMs) / 1e3)
    m("task.cpu_s") = per(sumJ(traced)(_.cpuNs) / 1e9)
    m("task.gc_s") = per(sumJ(traced)(_.gcMs) / 1e3)
    m("task.attempts_per_success") = taskEnds / math.max(1.0, sumJ(traced)(_.taskSuccesses))
    m("shuffle.write_mb") = per(sumJ(traced)(_.shuffleWrite) / MB)
    m("shuffle.read_mb") = per(sumJ(traced)(_.shuffleRead) / MB)
    m("shuffle.fetch_wait_s") = per(sumJ(traced)(_.fetchWaitMs) / 1e3)
    m("spill_mb") = per(sumJ(traced)(_.spill) / MB)
    m("io.scan_mb") = per(sumJ(traced)(_.inBytes) / MB)
    m("io.scan_rows") = per(sumJ(traced)(_.inRows))
    m("io.write_mb") = per(sumJ(byPhase("build"))(_.outBytes) / MB)
    m("cache.peak_mb") = cachePeakBytes / MB
    m("cache.blocks") = cachePeakBlocks.toDouble
    for (mod <- Modules) {
      val js = traced.filter { case (j, mk) => module(j, mk) == mod }
      m(s"mod.$mod.jobs") = per(js.size)
      m(s"mod.$mod.job_s") = per(sumJ(js)(j => (j.endMs - j.submitMs) / 1e3))
    }
    // streaming: batches are charged to the query whose window holds
    // their trigger time; fixed cost = query wall - its batch time
    val bs = batches.asScala.toSeq.flatMap(b => markAt(b.startMs).map(mk => (mk.pass, mk.query) -> b))
    val byQuery = bs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val durations = bs.map(_._2.durationMs.toDouble).sorted
    m("stream.batches") = per(bs.size)
    m("stream.batch_p50_ms") = if (durations.isEmpty) 0.0 else durations(durations.size / 2)
    m("stream.fixed_s") = per(querySpans.flatMap { q =>
      byQuery.get((q.pass, q.query)).map(b => q.buildS + q.execS - b.map(_.durationMs).sum / 1e3)
    }.sum)
    m("stream.state_rows_peak") = (0L +: bs.map(_._2.stateRows)).max.toDouble
    m("stream.state_mb_peak") = (0L +: bs.map(_._2.stateBytes)).max / MB
    m("trace.overhead_frac") =
      if (walls.isEmpty || untraced.isEmpty) 0.0 else median(walls) / median(untraced) - 1

    writeSpans(outDir, traced, module)
    val unattributed = jobs.size - traced.size
    m.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", s""","_untraced_jobs":$unattributed}""")
  }

  private def writeSpans(outDir: String, traced: Seq[(JobRec, Mark)],
                         module: (JobRec, Mark) => String): Unit = {
    val lines = querySpans.map { q =>
      s"""{"span":"query","pass":${q.pass},"query":"${q.query}","start_ms":${q.startMs},""" +
        s""""build_s":${q.buildS},"exec_s":${q.execS}}"""
    } ++ traced.map { case (j, mk) =>
      s"""{"span":"job","job":${j.id},"pass":${mk.pass},"query":"${mk.query}",""" +
        s""""phase":"${mk.phase}","module":"${module(j, mk)}","start_ms":${j.submitMs},""" +
        s""""end_ms":${j.endMs},"stages":${j.stages},"tasks":${j.taskEnds},""" +
        s""""task_run_ms":${j.runMs}}"""
    }
    Files.writeString(Paths.get(outDir, "spans.jsonl"), lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val MB = 1048576.0
  /** `graft` packages a job can be charged to; `none` = outside any query. */
  val Modules = Seq("text", "cluster", "ops", "util", "io", "queries",
    "functions", "linalg", "plans", "none")

  /** Module of the innermost `graft.<pkg>.` frame in a call-site stack. */
  def moduleOf(details: String): String =
    details.split("\n").iterator.map(_.trim)
      .collectFirst { case l if l.startsWith("graft.") =>
        val pkg = l.stripPrefix("graft.").takeWhile(c => c != '.' && c != '$' && c != '(')
        if (Modules.contains(pkg)) pkg else "none"
      }.getOrElse("none")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final case class Mark(ms: Long, pass: Int, query: String, phase: String)
  final case class QuerySpan(pass: Int, query: String, startMs: Long, buildS: Double, execS: Double)
  final case class Batch(startMs: Long, durationMs: Long, stateRows: Long, stateBytes: Long)

  final class StageRec(val submitMs: Long) { var firstLaunchMs = -1L }

  final class JobRec(val id: Int, val submitMs: Long, val module: String) {
    @volatile var endMs = -1L
    var stages, taskEnds, taskSuccesses = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs = 0L
    var spill, inBytes, inRows, outBytes = 0L
  }
}
