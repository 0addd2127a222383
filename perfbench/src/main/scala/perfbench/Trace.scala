package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch nanoseconds; `parent` is the `sid`
  * of the enclosing span (0 for a root); `ref` names the row or event. */
final case class Span(sid: Long, name: String, start: Long, end: Long, parent: Long, ref: String) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans kept in memory and written out when the benchmark ends. */
final class Spans {
  private val q = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def add(name: String, start: Long, end: Long, parent: Long, ref: String,
      sid: Long = nextId()): Long = {
    q.add(Span(sid, name, start, end, parent, ref)); sid
  }

  def all: Seq[Span] = q.asScala.toSeq

  /** Self time per layer in ms: each span's duration minus the part of its
    * interval that its children cover. */
  def selfMsByLayer: Seq[(String, Double)] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.sid, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.layer -> (s.end - s.start - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2)
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      w.write(s"""{"sid": ${s.sid}, "name": ${Stats.jsonString(s.name)}, "start_ns": ${s.start}, "end_ns": ${s.end}, "parent": ${s.parent}, "ref": ${Stats.jsonString(s.ref)}}""")
      w.newLine()
    } finally w.close()
  }
}

object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch nanoseconds on the monotonic clock. */
  def now(): Long = base + System.nanoTime()
  def fromMillis(ms: Long): Long = ms * 1000000L
}

/** Work done by Spark on behalf of one scope (a row execution, a build or a
  * drain of the backlog). */
final class ExecAcc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, schedWaitMs, gcMs, shuffleRead, shuffleWrite, spill = 0L

  def +=(a: ExecAcc): Unit = {
    jobs += a.jobs; stages += a.stages; tasks += a.tasks
    runMs += a.runMs; cpuNs += a.cpuNs; schedWaitMs += a.schedWaitMs; gcMs += a.gcMs
    shuffleRead += a.shuffleRead; shuffleWrite += a.shuffleWrite; spill += a.spill
  }
}

/** SparkListener that attributes jobs, stages and tasks to the scope named
  * by the `perfbench.scope` local property of the thread that started them.
  * Jobs of a streaming query carry no such property and land in "stream". */
final class ExecProbe(spans: Spans) extends SparkListener {
  val ScopeKey = "perfbench.scope"
  val SpanKey = "perfbench.span"
  private val accs = new java.util.HashMap[String, ExecAcc]()
  private val stageScope = new java.util.HashMap[Int, String]()
  private val stageSubmit = new java.util.HashMap[Int, Long]()
  private val jobOpen = new java.util.HashMap[Int, (Long, Long, String)]()

  private def scopeOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(ScopeKey))).getOrElse("stream")

  private def acc(scope: String): ExecAcc = accs.computeIfAbsent(scope, _ => new ExecAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val scope = scopeOf(e.properties)
    acc(scope).jobs += 1
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobOpen.put(e.jobId, (Clock.fromMillis(e.time), parent, scope))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobOpen.remove(e.jobId)).foreach { case (t0, parent, scope) =>
      spans.add("exec.job", t0, Clock.fromMillis(e.time), parent, s"$scope#${e.jobId}")
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val scope = scopeOf(e.properties)
    acc(scope).stages += 1
    stageScope.put(e.stageInfo.stageId, scope)
    stageSubmit.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(Option(stageScope.get(e.stageId)).getOrElse("stream"))
    a.tasks += 1
    if (stageSubmit.containsKey(e.stageId))
      a.schedWaitMs += math.max(0L, e.taskInfo.launchTime - stageSubmit.get(e.stageId))
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }

  /** Remove and return what was recorded for `scope` (call after the bus
    * is drained). */
  def take(scope: String): ExecAcc = synchronized {
    Option(accs.remove(scope)).getOrElse(new ExecAcc)
  }
}

/** Catalyst phase times of every query execution that completes while it
  * is registered. */
final class PlanProbe extends QueryExecutionListener {
  private var analysis, optimization, planning = 0L
  private def add(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    analysis += ms("analysis"); optimization += ms("optimization"); planning += ms("planning")
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
  /** (analysis, optimization, planning) ms since the last call. */
  def take(): (Long, Long, Long) = synchronized {
    val r = (analysis, optimization, planning)
    analysis = 0; optimization = 0; planning = 0
    r
  }
}

/** Collects every StreamingQueryProgress. */
final class ProgressProbe extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = q.add(e.progress)
  def take(): Seq[StreamingQueryProgress] = {
    val out = Seq.newBuilder[StreamingQueryProgress]
    var p = q.poll()
    while (p != null) { out += p; p = q.poll() }
    out.result()
  }
}

/** The traced-run instruments, attached to one session. */
final class Tracer(val spark: SparkSession) {
  val spans = new Spans
  val exec = new ExecProbe(spans)
  val plan = new PlanProbe
  val progress = new ProgressProbe
  private var on = false
  def active: Boolean = on

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plan)
    spark.streams.addListener(progress)
    on = true
  }

  def stop(): Unit = if (on) {
    settle()
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(plan)
    spark.streams.removeListener(progress)
    on = false
  }

  /** Wait until every listener event posted so far has been delivered. */
  def settle(): Unit = org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

  /** Run `f` under a scope and span: Spark jobs it starts are attributed to
    * `scope` and parented to the new span. Untraced while stopped. */
  def scoped[T](scope: String, name: String, parent: Long, ref: String)(f: => T): T = {
    if (!on) return f
    val sc = spark.sparkContext
    val sid = spans.nextId()
    sc.setLocalProperty(exec.ScopeKey, scope)
    sc.setLocalProperty(exec.SpanKey, sid.toString)
    val t0 = Clock.now()
    try f finally {
      spans.add(name, t0, Clock.now(), parent, ref, sid)
      sc.setLocalProperty(exec.ScopeKey, null)
      sc.setLocalProperty(exec.SpanKey, null)
    }
  }
}

/** JVM-wide figures for the harness group of per-layer metrics. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
}
