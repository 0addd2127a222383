package perfbench

import graft.config.StreamsConfig
import graft.streaming.{Observability, Pipeline}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import scala.concurrent.duration._

/** Fixed parameters of the ship workloads; README.md gives the source of
  * each. A change that claims a gain leaves them alone. */
object ShipParams {
  /** Spark's default trigger: a micro-batch starts as soon as the previous
    * one has finished and new files are listed. */
  val TriggerMs = 0
  /** Pre-written backlog of phase 1: three micro-batches of one file per
    * core (4 cores), drained `Drains` times; the run reports the median. */
  val BacklogFiles = 12
  val EventsPerBacklogFile = 4000
  val Drains = 3
  /** Warm-up in set-up: five micro-batches of backlog-sized files. With
    * two, the first timed drain still ran about a third slower than the
    * later ones while the JIT compiled. */
  val WarmupFiles = 20
  val EventsPerWarmupFile = 4000
  /** Phase 2: events due at a fixed rate, about a ninth of the measured
    * throttled drain rate; each generator tick publishes two files. A tick
    * is about two and a half times the measured open-loop micro-batch time,
    * so each tick's micro-batch runs on its own even on a host a third
    * slower, and latency does not turn into queueing delay. */
  val RateEps = 2000
  val TickMs = 1000
  val FilesPerTick = 2
  /** Modelled PutRecords round trip, paid once per service call. */
  val PutRttMs = 2
  /** `ship_throttled`: share of sends rejected for hot-shard hosts and for
    * the rest, and the backoff set through the StreamsConfig options: the
    * reference's 1 s / 60 s scaled by 1/1000. */
  val Throttle = Events.Throttle(hotShare = 0.2, coldShare = 0.01)
  val BackoffInit = "1ms"
  val BackoffMax = "60ms"
  /** Open-loop validity: the generator may run this late, and at most this
    * many seconds of arrivals may be outstanding. */
  val MaxLateMs = 100.0
  val MaxBacklogSeconds = 3.0

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("host", StringType),
    StructField("level", StringType), StructField("msg", StringType)))
}

/** Figures of one backlog drain. */
final case class Drain(eps: Double, seconds: Double, sink: SinkCounters, dropped: Long,
    exec: ExecAcc)

/** Figures of the open-loop phase: the latencies of each tick's events. */
final case class Phase2(tickLatMs: Seq[Seq[Double]], lateMsMax: Double, backlogMax: Long,
    valid: Boolean) {
  def latMs: Seq[Double] = tickLatMs.flatten
  /** Median over the ticks of each tick's `p`-th percentile: the events of
    * one tick share a micro-batch, so the ticks are the independent
    * samples, and one slow micro-batch does not set the figure. */
  def tickMedian(p: Double): Double = Stats.median(tickLatMs.filter(_.nonEmpty).map(Stats.percentile(_, p)))
}

/** The `ship` and `ship_throttled` workloads: filebeat-shaped NDJSON files
  * → `Pipeline.readNdjsonStream` → `Pipeline.publishTransform` →
  * `Pipeline.toKinesisShapedSink` → [[BenchPutter]]. */
final class Ship(spark: SparkSession, seed: Long, seconds: Int, throttled: Boolean,
    work: Path, tracer: Option[Tracer]) {
  import ShipParams._

  private val throttle = if (throttled) Some(Throttle) else None
  private def tr: Option[Tracer] = tracer.filter(_.active)
  private val cfgOptions = Map("region" -> "local", "stream_name" -> "bench",
    "partition_key" -> "host") ++
    (if (throttled) Map("backoff.init" -> BackoffInit, "backoff.max" -> BackoffMax) else Map())
  val cfg: StreamsConfig = StreamsConfig.fromOptions(cfgOptions)
    .fold(e => sys.error(s"bad sink config: $e"), identity)

  // Event id layout: warm-up, then the backlog, then phase 2.
  private val warmFrom = 0
  private val backlogFrom = WarmupFiles * EventsPerWarmupFile
  private val backlogTo = backlogFrom + BacklogFiles * EventsPerBacklogFile
  private val perTick = RateEps * TickMs / 1000
  private val maxTicks = seconds * 1000 / TickMs + 1
  private val p2From = backlogTo
  private val idCount = p2From + maxTicks * perTick

  private val kinds = new Array[Byte](idCount)
  private val hostRanks = new Array[Short](idCount)
  private val state = new ServiceState(seed, hostRanks, throttle, cfg.maxRetries,
    PutRttMs * 1000000L)

  /** The stream reads every directory under `in`: one per published
    * backlog, and `in/live`, into which the open loop renames its files one
    * by one. */
  private val inDir = work.resolve("in")
  private val liveDir = inDir.resolve("live")
  private val stage = work.resolve("stage")
  private val observed = new java.util.concurrent.ConcurrentLinkedQueue[Observability.BatchMetrics]()
  private val publishListener = new Observability.PublishListener(observed.add(_))
  private var linesWritten = 0L
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private var dirSeq = 0
  private var drains = 0
  private var p2Events = 0

  // results
  var failed = 0L
  var attempted = 0L
  var dupAccepts = 0L
  var neverAccepted = 0L
  var deliverableTotal = 0L
  val notes = Seq.newBuilder[String]

  private def kindCode(k: Events.Kind): Byte = k match {
    case Events.Ok => 0
    case Events.NullHost => 1
    case Events.Corrupt => 2
  }

  private def deliverable(i: Int): Boolean = kinds(i) == 0

  private def deliverableIn(from: Int, to: Int): Int = (from until to).count(deliverable)

  /** Write events `from until to` as one file under `dir`. */
  private def writeFile(dir: Path, name: String, from: Int, to: Int, mtimeMs: Long): Path = {
    Files.createDirectories(dir)
    val p = dir.resolve(name)
    Files.write(p, Events.fileBytes(seed, from, to))
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs))
    p
  }

  /** Make a staged directory of files visible to the stream in one rename. */
  private def publishDir(staged: Path, events: Long): Unit = {
    dirSeq += 1
    Files.move(staged, inDir.resolve(f"d$dirSeq%03d"), StandardCopyOption.ATOMIC_MOVE)
    linesWritten += events
  }

  /** Hard-link the backlog template into a fresh staged directory. */
  private def stageBacklog(): Path = {
    val d = stage.resolve(s"backlog-${dirSeq + 1}")
    Files.createDirectories(d)
    Files.list(stage.resolve("template")).forEach(f => Files.createLink(d.resolve(f.getFileName), f))
    d
  }

  private def awaitResolved(target: Long, what: String, timeoutS: Int = 120): Unit = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    while (state.resolved.get() < target) {
      if (System.nanoTime() > deadline || !query.isActive) {
        val ex = Option(query.exception).map(_.toString).getOrElse("")
        sys.error(s"$what: ${state.resolved.get()} of $target events resolved in ${timeoutS}s $ex")
      }
      Thread.sleep(1)
    }
  }

  /** Set-up: inputs, the streaming query, and the warm-up batches. */
  def setup(): Unit = {
    var i = 0
    while (i < idCount) {
      val e = Events.event(seed, i)
      kinds(i) = kindCode(e.kind); hostRanks(i) = e.hostRank.toShort
      i += 1
    }
    Service.state = state
    Files.createDirectories(liveDir)
    val base = System.currentTimeMillis()
    (0 until WarmupFiles).foreach { f =>
      val from = warmFrom + f * EventsPerWarmupFile
      writeFile(stage.resolve("warm"), f"w$f%03d.ndjson", from, from + EventsPerWarmupFile, base + f)
    }
    (0 until BacklogFiles).foreach { f =>
      val from = backlogFrom + f * EventsPerBacklogFile
      writeFile(stage.resolve("template"), f"b$f%03d.ndjson", from, from + EventsPerBacklogFile, base + 100 + f)
    }
    spark.streams.addListener(publishListener)
    val src = Pipeline.readNdjsonStream(spark, inDir.toString + "/*", ShipParams.schema,
      maxFilesPerTrigger = spark.sparkContext.defaultParallelism)
    val (records, _) = Pipeline.publishTransform(src, cfg)
    query = Pipeline.toKinesisShapedSink(records, cfg, () => new BenchPutter,
      work.resolve("checkpoint").toString, TriggerMs.millis).start()
    val r0 = state.resolved.get()
    publishDir(stage.resolve("warm"), backlogFrom - warmFrom)
    awaitResolved(r0 + deliverableIn(warmFrom, backlogFrom), "warm-up")
    verify(warmFrom, backlogFrom, count = false)
    state.takeCounters()
  }

  /** Phase 1: make the whole backlog visible at once and time its drain
    * from that moment to the last first acceptance. */
  def drain(): Drain = {
    drains += 1
    state.reset(backlogFrom, backlogTo)
    val staged = stageBacklog()
    tr.foreach(_.settle())
    tr.foreach(_.exec.take("stream"))
    val r0 = state.resolved.get()
    val sid = tr.map(_.spans.nextId()).getOrElse(0L)
    state.parentSpan = sid
    val t0 = Clock.now()
    publishDir(staged, backlogTo - backlogFrom)
    awaitResolved(r0 + deliverableIn(backlogFrom, backlogTo), "backlog drain")
    val end = (backlogFrom until backlogTo).filter(deliverable)
      .map(i => state.resolvedAt.get(i)).max
    val sink = state.takeCounters()
    tr.foreach(_.spans.add("ship.drain", t0, end, 0L, s"events:$backlogFrom-$backlogTo", sid))
    val dropped = (backlogFrom until backlogTo).count(i => deliverable(i) && state.accepts.get(i) == 0)
    // the last batch's task metrics arrive after the putter's last answer
    Thread.sleep(50)
    val acc = tr.map { t => t.settle(); t.exec.take("stream") }.getOrElse(new ExecAcc)
    val secs = (end - t0) / 1e9
    verify(backlogFrom, backlogTo, count = true)
    Drain(sink.firstAccepts / secs, secs, sink, dropped, acc)
  }

  /** Phase 2: one generator thread publishes a tick's files at a fixed
    * rate; each event is timed from its tick's scheduled publish time to
    * its first acceptance. */
  def openLoop(durationS: Double): Phase2 = {
    val ticks = math.min(maxTicks, math.max(1, (durationS * 1000 / TickMs).toInt))
    val to = p2From + ticks * perTick
    val tickNs = TickMs * 1000000L
    val dueCum = new Array[Long](ticks + 1)
    (0 until ticks).foreach(j => dueCum(j + 1) = dueCum(j) +
      deliverableIn(p2From + j * perTick, p2From + (j + 1) * perTick))
    val sid = tr.map(_.spans.nextId()).getOrElse(0L)
    state.parentSpan = sid
    val r0 = state.resolved.get()
    val base = System.currentTimeMillis()
    def stageTick(j: Int): Seq[Path] = (0 until FilesPerTick).map { f =>
      val from = p2From + j * perTick + f * perTick / FilesPerTick
      writeFile(stage.resolve("live"), f"t$j%05d-$f.ndjson", from, from + perTick / FilesPerTick, base + j)
    }
    var lateMax = 0.0
    var backlogMax = 0L
    val t0 = Clock.now()
    var next = stageTick(0)
    var j = 0
    while (j < ticks) {
      val due = t0 + (j + 1) * tickNs
      var now = Clock.now()
      while (now < due) { Thread.sleep(math.max(0L, (due - now) / 1000000L)); now = Clock.now() }
      next.foreach(f => Files.move(f, liveDir.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
      linesWritten += perTick
      lateMax = math.max(lateMax, (Clock.now() - due) / 1e6)
      backlogMax = math.max(backlogMax, dueCum(j + 1) - (state.resolved.get() - r0))
      j += 1
      if (j < ticks) next = stageTick(j)
    }
    awaitResolved(r0 + dueCum(ticks), "open loop")
    state.takeCounters()
    tr.foreach(_.spans.add("ship.open_loop", t0, Clock.now(), 0L, s"events:$p2From-$to", sid))
    val lat = (0 until ticks).map { j =>
      val dueNs = t0 + (j + 1) * tickNs
      (p2From + j * perTick until p2From + (j + 1) * perTick)
        .filter(i => deliverable(i) && state.accepts.get(i) > 0)
        .map(i => (state.resolvedAt.get(i) - dueNs) / 1e6)
    }
    val valid = lateMax <= MaxLateMs && backlogMax <= MaxBacklogSeconds * RateEps
    if (!valid) notes += f"open loop invalid: generator late by $lateMax%.1f ms, backlog max $backlogMax events"
    verify(p2From, to, count = true)
    p2Events = to - p2From
    Phase2(lat, lateMax, backlogMax, valid)
  }

  /** Check every event of `from until to` against the generator and the
    * fault model, counting checks and failures; with `count`, also add the
    * range to the delivery figures. */
  private def verify(from: Int, to: Int, count: Boolean): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var bad = 0L
    var i = from
    while (i < to) {
      val e = Events.event(seed, i)
      val acc = state.accepts.get(i)
      val ok =
        if (!e.deliverable) state.sends.get(i) == 0
        else if (throttle.exists(_.drops(seed, e, cfg.maxRetries)))
          acc == 0 && state.sends.get(i) == cfg.maxRetries + 1
        else acc >= 1 && {
          val data = state.payloads.get(i)
          val s = new String(data, "UTF-8")
          s.endsWith("\n") && state.keys.get(i) == e.host && scala.util.Try {
            val n = mapper.readTree(s)
            n.size == 4 && n.get("event_id").asLong == e.id &&
              n.get("host").asText == e.host && n.get("level").asText == e.level &&
              n.get("msg").asText == e.msg
          }.getOrElse(false)
        }
      if (!ok) bad += 1
      attempted += 1
      if (count && e.deliverable) {
        deliverableTotal += 1
        if (acc == 0) neverAccepted += 1
        if (acc > 1) dupAccepts += acc - 1
      }
      i += 1
    }
    if (bad > 0) notes += s"events $from until $to: $bad failed their check"
    failed += bad
  }

  /** Mean payload size of the first accepted record of each open-loop event. */
  def payloadBytesPerEvent: Double = {
    val sizes = (p2From until idCount).flatMap(i => Option(state.payloads.get(i)).map(_.length))
    if (sizes.isEmpty) 0.0 else sizes.sum.toDouble / sizes.size
  }

  /** Stop the query and compare the program's own F1/F2 counters with the
    * seeded counts of corrupt and host-less lines. */
  def finish(): (Long, Long) = {
    query.stop()
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
    spark.streams.removeListener(publishListener)
    val ms = observed.toArray(Array.empty[Observability.BatchMetrics])
    val nullDropped = ms.map(_.nDropped).sum
    val corruptDropped = linesWritten - ms.map(_.nEvents).sum
    val m = state.malformed.get()
    if (m > 0) { notes += s"$m payloads without a readable event id"; failed += m }
    (nullDropped, corruptDropped)
  }

  /** Seeded counts of host-less and corrupt lines among all lines written. */
  def seededDrops: (Long, Long) = {
    def cnt(code: Byte, from: Int, to: Int) = (from until to).count(kinds(_) == code).toLong
    def both(code: Byte) = cnt(code, warmFrom, backlogFrom) +
      drains * cnt(code, backlogFrom, backlogTo) + cnt(code, p2From, p2From + p2Events)
    (both(1), both(2))
  }
}
