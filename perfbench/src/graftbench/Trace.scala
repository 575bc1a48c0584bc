package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One time base for client-side spans (System.nanoTime) and Spark listener
  * events (epoch ms): both map to milliseconds since the run started.
  */
final class Clock {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - originNs) / 1e6
  def fromEpoch(ms: Long): Double = (ms - originEpochMs).toDouble
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.ceil(h).toInt
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}

/** A traced interval. `parent` is 0 for a root; `req` ties every span of
  * one request (or micro-batch) together.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span store; written out once, when the run ends. */
final class Spans {
  private val ids = new AtomicLong
  private val all = new ConcurrentLinkedQueue[Span]
  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = all.add(s)
  def toSeq: Seq[Span] = all.asScala.toSeq

  /** Time within [start, end] that the union of `children` covers. */
  def covered(children: Seq[Span], start: Double, end: Double): Double = children
    .map(c => (math.max(c.start, start), math.min(c.end, end)))
    .filter { case (a, b) => b > a }.sortBy(_._1)
    .foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, reach), (a, b)) =>
      if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
    }._1

  /** Self time: a span's duration minus the part its children cover. */
  def selfTimes: Map[Long, Double] = {
    val spans = toSeq
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.ms - covered(kids.getOrElse(s.id, Nil), s.start, s.end))).toMap
  }

  /** Per request (root span id): its `build` span plus the part of its
    * `execute` span that the plan and job spans under it cover. Unlike the
    * request span, this sum does not hold by construction: driver time
    * outside builders, Catalyst phases and Spark jobs is left out.
    */
  def accountedMs: Map[Long, Double] = {
    val spans = toSeq
    val kids = spans.groupBy(_.parent)
    spans.filter(s => s.parent == 0L && s.req != 0L).map { root =>
      val phases = kids.getOrElse(root.id, Nil)
      root.id -> phases.map {
        case b if b.name == "build" => b.ms
        case e => covered(kids.getOrElse(e.id, Nil), e.start, e.end)
      }.sum
    }.toMap
  }

  def writeJsonl(path: String): Unit = {
    val self = selfTimes
    val lines = toSeq.sortBy(_.start).map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self(s.id)))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Collector pauses and heap-after-collection, from the GC MXBeans. */
final class GcWatch(clock: Clock) {
  final case class Gc(at: Double, ms: Double, heapAfter: Long, major: Boolean)
  private val events = new ConcurrentLinkedQueue[Gc]
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val gi = info.getGcInfo
        val after = gi.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        events.add(Gc(clock.now, gi.getDuration.toDouble, after, info.getGcAction == "end of major GC"))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def between(from: Double, to: Double): Seq[Gc] =
    events.asScala.toSeq.filter(g => g.at >= from && g.at <= to)

  /** Heap in use after a full collection forced now, in MB: the state the
    * run holds at the end of its window. Collections during the run do not
    * count: what the heap held after them depended on when they ran, and
    * their largest figure spread by a quarter over five seeds.
    */
  def liveHeapMb(): Double = {
    val forced = clock.now
    System.gc()
    val deadline = System.nanoTime() + 5000000000L
    def major = between(forced, Double.MaxValue).filter(_.major)
    while (major.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    major.headOption.map(_.heapAfter / (1024.0 * 1024.0)).getOrElse(Double.NaN)
  }
}

/** Whole-stage codegen counters (JVM-global). */
object Codegen {
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
}

/** Local properties a client thread sets so that the listeners can
  * attribute Spark jobs to the request and phase that submitted them.
  */
object Props {
  val Req = "graftbench.req"
  val Parent = "graftbench.parent"
  val Phase = "graftbench.phase"

  def set(sc: org.apache.spark.SparkContext, req: Long, parent: Long, phase: String): Unit = {
    sc.setLocalProperty(Req, req.toString)
    sc.setLocalProperty(Parent, parent.toString)
    sc.setLocalProperty(Phase, phase)
  }

  /** Unsets them, so that later jobs of the thread are not attributed. */
  def clear(sc: org.apache.spark.SparkContext): Unit =
    Seq(Req, Parent, Phase).foreach(sc.setLocalProperty(_, null))
}

/** Per-stage totals, attributed to the job (and through it the request and
  * phase) that first submitted the stage.
  */
final case class StageRec(stageId: Int, req: Long, phase: String, start: Double,
    end: Double, tasks: Int, runMs: Double, cpuMs: Double, schedDelayMs: Double,
    inputBytes: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
    spillBytes: Long, outputBytes: Long)

final case class JobRec(jobId: Int, spanId: Long, parent: Long, req: Long,
    phase: String, start: Double)

/** Scheduler-side tracer: job and stage spans plus task totals. */
final class ExecTrace(clock: Clock, spans: Spans) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val schedDelay = new ConcurrentHashMap[Int, java.lang.Double]
  private val stageRecs = new ConcurrentLinkedQueue[StageRec]
  private val jobRecs = new ConcurrentLinkedQueue[JobRec]

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val rec = JobRec(e.jobId, spans.newId(),
      prop(e.properties, Props.Parent).map(_.toLong).getOrElse(0L),
      prop(e.properties, Props.Req).map(_.toLong).getOrElse(0L),
      prop(e.properties, Props.Phase).getOrElse("other"),
      clock.fromEpoch(e.time))
    jobs.put(e.jobId, rec)
    jobRecs.add(rec)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      spans.add(Span(j.spanId, j.parent, j.req, "job", j.start, clock.fromEpoch(e.time)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null && m != null) {
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      schedDelay.merge(e.stageId, delay.toDouble, (a, b) => a + b)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val job = Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j)))
    val start = si.submissionTime.map(clock.fromEpoch).getOrElse(0.0)
    val end = si.completionTime.map(clock.fromEpoch).getOrElse(start)
    val m = si.taskMetrics
    val rec = StageRec(si.stageId, job.map(_.req).getOrElse(0L),
      job.map(_.phase).getOrElse("other"), start, end, si.numTasks,
      if (m == null) 0.0 else m.executorRunTime.toDouble,
      if (m == null) 0.0 else m.executorCpuTime / 1e6,
      Option(schedDelay.get(si.stageId)).map(_.doubleValue).getOrElse(0.0),
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.outputMetrics.bytesWritten)
    stageRecs.add(rec)
    spans.add(Span(spans.newId(), job.map(_.spanId).getOrElse(0L), rec.req,
      "stage", start, end))
  }

  def stages: Seq[StageRec] = stageRecs.asScala.toSeq
  def jobList: Seq[JobRec] = jobRecs.asScala.toSeq
}

/** Catalyst phase intervals of every Dataset action, from the
  * QueryPlanningTracker that each QueryExecution carries.
  */
final class PlanTrace(clock: Clock) extends QueryExecutionListener {
  final case class Phases(funcName: String, analysis: (Double, Double),
      optimize: (Double, Double), physical: (Double, Double)) {
    /** The three phases as spans under `parent`, the execute span of the
      * request whose action ran them. */
    def spans(ids: Spans, parent: Long, req: Long): Seq[Span] = Seq(
      "plan.analyze" -> analysis, "plan.optimize" -> optimize, "plan.physical" -> physical)
      .map { case (name, (a, b)) => Span(ids.newId(), parent, req, name, a, b) }
  }
  private val recs = new ConcurrentLinkedQueue[Phases]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def interval(name: String): (Double, Double) = ph.get(name)
      .map(p => (clock.fromEpoch(p.startTimeMs), clock.fromEpoch(p.endTimeMs)))
      .getOrElse((0.0, 0.0))
    recs.add(Phases(funcName, interval("analysis"), interval("optimization"), interval("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def all: Seq[Phases] = recs.asScala.toSeq
}

/** Registers the tracing listeners on a session. */
final class Tracer(spark: SparkSession, clock: Clock) {
  val spans = new Spans
  val exec = new ExecTrace(clock, spans)
  val plans = new PlanTrace(clock)
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(plans)
}
