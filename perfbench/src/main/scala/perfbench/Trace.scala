package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` is the id of the benchmark operation (query,
  * full build or batch) the span belongs to; `parent` is 0 for an
  * operation span. Times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
    name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Counts summed over the Spark work of a set of spans. */
final case class Work(jobs: Int = 0, stages: Int = 0, tasks: Long = 0,
    emptyTasks: Long = 0, schedDelayMs: Double = 0, runMs: Double = 0,
    cpuMs: Double = 0, gcMs: Double = 0, bytesRead: Long = 0,
    bytesWritten: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, planMs: Double = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, emptyTasks + o.emptyTasks, schedDelayMs + o.schedDelayMs,
    runMs + o.runMs, cpuMs + o.cpuMs, gcMs + o.gcMs, bytesRead + o.bytesRead,
    bytesWritten + o.bytesWritten, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, planMs + o.planMs)
}

/** Times the calls the benchmark makes into the engine's layers.
  *
  * Untraced, a span is only a pair of clock readings around the call.
  * Traced, the benchmark also registers its own `SparkListener` and
  * `QueryExecutionListener`, tags every call with a job group naming its
  * span, and after each call waits until the listener bus has delivered
  * every event (no fixed sleeps). A job is paired with its start event
  * by job id; an end whose start was never seen counts as dropped and
  * gets no duration.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  private val work = new ConcurrentHashMap[Long, Work]()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Double)]()
  private val stageOwner = new ConcurrentHashMap[Int, Long]()
  private val eventSpans = ArrayBuffer.empty[Span]
  val droppedJobs = new AtomicInteger(0)
  /** Job start events seen. */
  val startedJobs = new AtomicInteger(0)
  /** Paired jobs that did not succeed (cancelled or failed). */
  val cancelledJobs = new AtomicInteger(0)
  val drainTimeouts = new AtomicInteger(0)
  /** Time the traced run spent waiting for the listener bus. */
  val drainNs = new AtomicLong(0)
  @volatile private var current: Long = 0L

  private def add(span: Long, w: Work): Unit =
    if (span > 0) work.merge(span, w, (a: Work, b: Work) => a + b)

  private def spanOfGroup(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .flatMap(_.stripPrefix(Tracer.GroupPrefix).toLongOption)
      .getOrElse(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOfGroup(e.properties)
      startedJobs.incrementAndGet()
      jobStarts.put(e.jobId, (span, e.time.toDouble))
      e.stageIds.foreach(s => stageOwner.putIfAbsent(s, span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)) match {
        case None => droppedJobs.incrementAndGet()
        case Some((span, startMs)) =>
          // a job AQE cancels (a superseded stage) is timing-dependent:
          // count it apart, so per-layer job counts repeat exactly
          e.jobResult match {
            case JobSucceeded => add(span, Work(jobs = 1))
            case _ => cancelledJobs.incrementAndGet()
          }
          eventSpans.synchronized {
            eventSpans += Span(-e.jobId.toLong - 1, span, 0, "job",
              s"job ${e.jobId}", startMs, e.time.toDouble)
          }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val span = stageOwner.getOrDefault(si.stageId, 0L)
      add(span, Work(stages = 1))
      for (s <- si.submissionTime; c <- si.completionTime) eventSpans.synchronized {
        eventSpans += Span(-(1L << 40) - si.stageId * 64L - si.attemptNumber(), span, 0,
          "stage", s"stage ${si.stageId}.${si.attemptNumber()}",
          s.toDouble, c.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        val rows = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        add(stageOwner.getOrDefault(e.stageId, 0L), Work(
          tasks = 1, emptyTasks = if (rows == 0) 1 else 0,
          schedDelayMs = delay.toDouble, runMs = m.executorRunTime.toDouble,
          cpuMs = m.executorCpuTime / 1e6, gcMs = m.jvmGCTime.toDouble,
          bytesRead = m.inputMetrics.bytesRead,
          bytesWritten = m.outputMetrics.bytesWritten,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    }
  }

  // Query-execution events carry no job group; they are delivered before
  // the drain that ends the span they ran in, so `current` still names it.
  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Double =
      qe.tracker.phases.collect {
        case (p, s) if Tracer.PlanPhases(p) => s.durationMs.toDouble
      }.sum
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      add(current, Work(planMs = phases(qe)))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      add(current, Work(planMs = phases(qe)))
  }

  if (traced) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def drain(): Unit = {
    val t = System.nanoTime()
    try PerfbenchBus.drain(sc, 60000)
    catch { case _: java.util.concurrent.TimeoutException => drainTimeouts.incrementAndGet() }
    drainNs.addAndGet(System.nanoTime() - t)
  }

  /** Runs `body` as a span under `parent` (None opens a new operation)
    * and returns its result with the finished span. `body` receives the
    * open span, to nest spans under it. Spark jobs started inside are
    * attributed to the innermost span.
    */
  def span[T](parent: Option[Span], kind: String, name: String)(body: Span => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val outer = current
    if (traced) {
      drain()
      current = id
      sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
    }
    val open = Span(id, parent.map(_.id).getOrElse(0L), parent.map(_.op).getOrElse(id),
      kind, name, nowMs, Double.NaN)
    try {
      val out = body(open)
      val s = open.copy(endMs = nowMs)
      if (traced) drain()
      spans.synchronized(spans += s)
      (out, s)
    } finally if (traced) {
      current = outer
      if (outer > 0) sc.setJobGroup(Tracer.GroupPrefix + outer, "", interruptOnCancel = false)
      else sc.clearJobGroup()
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Spark work attributed to the given spans and their descendants. */
  def workOf(roots: Seq[Span]): Work = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    roots.flatMap(subtree).map(s => work.getOrDefault(s.id, Work())).foldLeft(Work())(_ + _)
  }

  /** Jobs that started but whose end was not delivered. */
  def openJobs: Int = jobStarts.size

  /** Jobs paired with both their start and end events. */
  def pairedJobs: Int = eventSpans.synchronized(eventSpans.count(_.kind == "job"))

  def close(): Unit = if (traced) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Every span — benchmark spans plus the job and stage spans built from
    * listener events — with its self time: its duration minus the part
    * of it covered by its child spans.
    */
  def spanTable: Seq[(Span, Double)] = {
    val ev = eventSpans.synchronized(eventSpans.toList)
    val stageSpans = ev.filter(_.kind == "stage")
    val jobSpans = ev.filter(_.kind == "job")
    val bench = allSpans
    val opOf = bench.map(s => s.id -> s.op).toMap
    // a stage's parent is the job span covering it within the same group
    val jobsWithOp = jobSpans.map(j => j.copy(op = opOf.getOrElse(j.parent, 0L)))
    val stagesWithJob = stageSpans.map { st =>
      jobsWithOp.find(j => j.parent == st.parent && j.startMs <= st.startMs && st.endMs <= j.endMs)
        .map(j => st.copy(parent = j.id, op = j.op))
        .getOrElse(st.copy(op = opOf.getOrElse(st.parent, 0L)))
    }
    val all = bench ++ jobsWithOp ++ stagesWithJob
    val kids = all.groupBy(_.parent)
    all.map(s => s -> Tracer.selfMs(s, kids.getOrElse(s.id, Nil)))
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  val PlanPhases = Set("analysis", "optimization", "planning")

  /** `span`'s duration minus the union of its children's intervals
    * (clipped to the span).
    */
  def selfMs(span: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startMs, span.startMs), math.min(c.endMs, span.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    span.durMs - covered
  }
}
