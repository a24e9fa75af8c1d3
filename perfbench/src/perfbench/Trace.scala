package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Spark work attributed to a span: the jobs that started inside it and
  * their tasks.
  */
final case class Counts(jobs: Int, tasks: Int, cpuS: Double, gcS: Double, shuffleReadMb: Double,
    shuffleWriteMb: Double, spillMb: Double, inputRecords: Long, writtenMb: Double,
    recordsWritten: Long, maxTaskS: Double, medianTaskS: Double) {
  def shuffleMb: Double = shuffleReadMb + shuffleWriteMb
  def skew: Double = if (medianTaskS > 0) maxTaskS / medianTaskS else 1.0
}

/** A timed call: name, wall-clock start and end (ms since the epoch, the
  * clock Spark events use), the precise duration, its parent span and the
  * request it belongs to.
  */
final case class Span(id: Int, name: String, parent: Int, request: String, startMs: Long,
    endMs: Long, seconds: Double)

/** A Spark job: its start and end (ms since the epoch), its call site in
  * short form (`parquet at IndexCli.scala:53`) and in long form (the stack
  * of user frames that started it), and its stages.
  */
final case class Job(id: Int, start: Long, callSite: String, stack: String, stages: Seq[Int]) {
  @volatile var end: Long = Long.MaxValue
}

/** Records spans around the benchmark's calls into the program, and every
  * Spark job and task through a listener, so each span gets its Spark
  * counts. Jobs are attributed to spans by start time, which is exact while
  * one request runs at a time.
  */
final class Trace extends SparkListener {

  private final case class Task(stage: Int, cpuNs: Long, gcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, input: Long, written: Long, recordsWritten: Long,
      durationMs: Long)

  private val jobsById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(0)
  private val events = new AtomicInteger(0)

  // SQL executions by id, with the call site (short, long) that started them
  private val executions = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId.toString, (s.description, s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // a job of a SQL execution may run on a helper thread, so its own stage
    // call site can lack the user frames; the execution's is the action's
    val (site, stack) = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executions.get(id)))
      .getOrElse(if (e.stageInfos.isEmpty) ("?", "")
        else { val st = e.stageInfos.maxBy(_.stageId); (st.name, st.details) })
    jobsById.put(e.jobId, Job(e.jobId, e.time, site, stack, e.stageIds))
    events.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobsById.get(e.jobId)).foreach(_.end = e.time)
    events.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten, e.taskInfo.duration))
    events.incrementAndGet()
  }

  /** Wait until the listener bus has delivered every event: no job runs
    * and no event arrived for a while.
    */
  def drain(sc: org.apache.spark.SparkContext): Unit = {
    var last = -1
    while (last != events.get || sc.statusTracker.getActiveJobIds.nonEmpty) {
      last = events.get
      Thread.sleep(100)
    }
  }

  /** Time `f` as span `name`, a child of `parent`. */
  def span[T](name: String, request: String, parent: Int = -1)(f: Int => T): (T, Span) = {
    val id = nextId.incrementAndGet()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = f(id)
    val s = Span(id, name, parent, request, startMs, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9)
    spans.add(s)
    (out, s)
  }

  /** Record a span whose bounds were derived, not timed around a call. */
  def derived(name: String, request: String, parent: Int, startMs: Long, endMs: Long): Span = {
    val s = Span(nextId.incrementAndGet(), name, parent, request, startMs, endMs,
      (endMs - startMs) / 1e3)
    spans.add(s)
    s
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** The jobs that started inside `s`, in start order. */
  def jobsIn(s: Span): Seq[Job] =
    jobsById.values.asScala.toSeq.filter(j => j.start >= s.startMs && j.start <= s.endMs)
      .sortBy(j => (j.start, j.id))

  def counts(ss: Seq[Span]): Counts = jobCounts(ss.flatMap(jobsIn).distinct)

  def jobCounts(js: Seq[Job]): Counts = {
    val stages = js.flatMap(_.stages).toSet
    val ts = tasks.asScala.toSeq.filter(t => stages.contains(t.stage))
    val durs = ts.map(_.durationMs / 1e3)
    val mb = 1024.0 * 1024.0
    Counts(js.size, ts.size, ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shuffleRead).sum / mb, ts.map(_.shuffleWrite).sum / mb, ts.map(_.spill).sum / mb,
      ts.map(_.input).sum, ts.map(_.written).sum / mb, ts.map(_.recordsWritten).sum,
      if (durs.isEmpty) 0.0 else durs.max, if (durs.isEmpty) 0.0 else Stats.median(durs))
  }

  /** Seconds inside `s` during which at least one Spark job ran, and that
    * time split by the jobs' call sites.
    */
  def jobTime(s: Span): (Double, Map[String, Double]) = {
    val js = jobsIn(s).map(j => (j.start, math.min(j.end, s.endMs), j.callSite)).sortBy(_._1)
    var busy = 0L
    var reach = s.startMs
    js.foreach { case (a, b, _) =>
      val from = math.max(a, reach)
      if (b > from) { busy += b - from; reach = b }
    }
    val bySite = js.groupBy(_._3).view.mapValues(_.map { case (a, b, _) => (b - a) / 1e3 }.sum).toMap
    (busy / 1e3, bySite)
  }

  /** Mean number of Spark jobs running at once over [fromMs, toMs]. */
  def activeJobs(fromMs: Long, toMs: Long): Double = {
    val busy = jobsById.values.asScala.toSeq.map { j =>
      math.max(0L, math.min(j.end, toMs) - math.max(j.start, fromMs))
    }.sum
    busy.toDouble / math.max(1L, toMs - fromMs)
  }

  /** All spans, with their Spark counts, as one JSON document. */
  def json: String = allSpans.map { s =>
    val c = counts(Seq(s))
    def str(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    Seq("id" -> s.id.toString, "name" -> str(s.name), "parent" -> s.parent.toString,
      "request" -> str(s.request), "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "seconds" -> f"${s.seconds}%.6f", "jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
      "cpu_s" -> f"${c.cpuS}%.6f", "gc_s" -> f"${c.gcS}%.6f",
      "shuffle_read_mb" -> f"${c.shuffleReadMb}%.6f", "shuffle_write_mb" -> f"${c.shuffleWriteMb}%.6f",
      "spill_mb" -> f"${c.spillMb}%.6f", "input_records" -> c.inputRecords.toString,
      "max_task_s" -> f"${c.maxTaskS}%.6f", "median_task_s" -> f"${c.medianTaskS}%.6f")
      .map { case (k, v) => s""""$k": $v""" }.mkString("  {", ", ", "}")
  }.mkString("[\n", ",\n", "\n]\n")
}
