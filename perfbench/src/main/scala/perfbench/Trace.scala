package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced call on the calling thread. Times are `nanoTime` for the
  * arithmetic and wall-clock milliseconds for matching listener events,
  * whose timestamps are wall clock. The counters are filled in from the
  * Spark jobs attributed to this span (not to its children). */
final class Span(val id: Long, val name: String, val parent: Option[Span],
    val startNs: Long, val startMs: Long, val gcStartMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  var gcEndMs: Long = -1L
  val children = mutable.ArrayBuffer.empty[Span]
  var jobs = 0
  var buildJobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L

  def group: String = Trace.groupOf(id)
  def selfS: Double =
    Trace.selfNs(startNs, endNs, children.map(c => (c.startNs, c.endNs)).toSeq) / 1e9
  /** JVM-wide collection time inside this span and outside its children. */
  def selfGcMs: Double =
    (gcEndMs - gcStartMs) - children.map(c => c.gcEndMs - c.gcStartMs).sum
}

/** What the listener learned about one Spark job: its start time, job
  * group, the call site of its result stage and its SQL execution id. */
final case class JobRec(jobId: Int, timeMs: Long, group: Option[String],
    callSite: String, executionId: Option[Long]) {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

object Trace {
  private val GroupPrefix = "perfbench-span-"
  def groupOf(id: Long): String = GroupPrefix + id

  /** Span time not covered by its children: the duration minus the union
    * of the child intervals clipped to the span. */
  def selfNs(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }

  /** The first stack frame of a long-form call site that lies outside
    * Spark, Scala and the JDK. */
  def userFrame(callSiteLong: String): Option[String] =
    callSiteLong.split('\n').iterator.map(_.trim)
      .find(f => f.nonEmpty && !Seq("org.apache.spark.", "scala.", "java.",
        "jdk.", "sun.").exists(f.startsWith(_)))

  /** A build job is one the engine's own code (package `graft`) started,
    * not the benchmark. Stages that adaptive execution submits from its
    * own threads carry no user frame; they take the call site of the SQL
    * execution they belong to. */
  def isBuildJob(job: JobRec, executionCallSites: Long => Option[String]): Boolean =
    userFrame(job.callSite)
      .orElse(job.executionId.flatMap(executionCallSites).flatMap(userFrame))
      .exists(_.startsWith("graft."))

  /** Attributes each job to a span. A job is matched by its job group when
    * that group names a span that was open when the job started. Threads
    * of a shared pool keep the group they inherited when they were
    * created, so a job whose group names a span that is not open at the
    * job's start goes to the innermost span open at that moment. */
  def attribute(spans: Seq[Span], jobs: Seq[JobRec]): Map[Int, Span] = {
    val byGroup = spans.map(s => s.group -> s).toMap
    def open(s: Span, t: Long) = s.startMs <= t && t <= s.endMs
    def depth(s: Span): Int = s.parent.fold(0)(p => depth(p) + 1)
    jobs.flatMap { j =>
      j.group.flatMap(byGroup.get).filter(open(_, j.timeMs))
        .orElse(spans.filter(open(_, j.timeMs)).maxByOption(depth))
        .map(j.jobId -> _)
    }.toMap
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Collects job, stage and task events while tracing is on. */
final class JobListener extends SparkListener {
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val executions = mutable.HashMap.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    // the result stage is created last, so it carries the highest id
    val details = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, e.time, prop("spark.jobGroup.id"), details,
      prop("spark.sql.execution.id").map(_.toLong))
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      lock.synchronized { executions(x.executionId) = x.details }
    case _ =>
  }

  /** Hands over the jobs seen so far with their build flag, and forgets them. */
  def drainJobs(): Seq[(JobRec, Boolean)] = lock.synchronized {
    val out = jobs.values.toSeq.map(j => j -> Trace.isBuildJob(j, executions.get))
    jobs.clear(); stageJob.clear(); executions.clear()
    out
  }
}

/** In-memory span recorder for the traced run. Off by default: `span`
  * then only runs its body. Spans are kept in memory and reported when
  * the run ends. */
final class Tracer(sc: SparkContext) {
  private val listener = new JobListener
  private val finished = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0L
  private var on = false

  def enabled: Boolean = on

  /** Starts recording: registers the listener. */
  def start(): Unit = if (!on) {
    sc.addSparkListener(listener)
    on = true
  }

  /** Stops recording, waits for the listener to see every event of the
    * finished spans, and attributes their jobs. */
  def stop(): Unit = if (on) {
    on = false
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    val jobs = listener.drainJobs()
    val owner = Trace.attribute(finished.toSeq, jobs.map(_._1))
    jobs.foreach { case (j, build) =>
      owner.get(j.jobId).foreach { s =>
        s.jobs += 1
        if (build) s.buildJobs += 1
        s.tasks += j.tasks
        s.cpuNs += j.cpuNs
        s.shuffleBytes += j.shuffleBytes
        s.spillBytes += j.spillBytes
      }
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val parent = stack.headOption
      val s = new Span(nextId, name, parent, System.nanoTime(),
        System.currentTimeMillis(), Trace.gcMs())
      parent.foreach(_.children += s)
      stack = s :: stack
      sc.setJobGroup(s.group, name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        s.endNs = System.nanoTime()
        s.gcEndMs = Trace.gcMs()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        finished += s
      }
    }

  /** Every finished span, in finishing order. */
  def spans: Seq[Span] = finished.toSeq
}
