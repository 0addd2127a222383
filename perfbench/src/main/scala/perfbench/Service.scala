package perfbench

import graft.sink.BatchPut
import java.util.concurrent.atomic._
import java.util.concurrent.locks.LockSupport

/** The Kinesis stand-in: a `BatchPut.Putter` that observes the sink at the
  * service boundary, where a real AWS client would sit.
  *
  * Every call costs a fixed modelled service time (the PutRecords round
  * trip). Then each record is accepted, or rejected with
  * ProvisionedThroughputExceeded when the workload's [[Events.Throttle]]
  * says so for its (event id, attempt). The service keeps, per event id,
  * how often it was sent and accepted, when it was first accepted (or
  * finally rejected), and the first accepted payload and key, so the
  * benchmark can time and check every event afterwards.
  */
final class ServiceState(val seed: Long, val hostRanks: Array[Short],
    val throttle: Option[Events.Throttle], val maxRetries: Int, val rttNanos: Long) {
  val n: Int = hostRanks.length
  val sends = new AtomicIntegerArray(n)
  val accepts = new AtomicIntegerArray(n)
  /** Epoch ns of the first acceptance, or of the last allowed send that the
    * service rejected (the event is then dropped by the sink). */
  val resolvedAt = new AtomicLongArray(n)
  val payloads = new AtomicReferenceArray[Array[Byte]](n)
  val keys = new AtomicReferenceArray[String](n)
  /** Events resolved so far: first accepted or finally rejected. */
  val resolved = new AtomicLong
  /** Records whose event id could not be read from the payload. */
  val malformed = new AtomicLong

  val calls = new AtomicLong
  val records = new AtomicLong
  val retryRecords = new AtomicLong
  val firstAccepts = new AtomicLong
  val putNanos = new AtomicLong
  val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger
  @volatile var spans: Spans = null
  @volatile var parentSpan: Long = 0L

  private val Accepted = BatchPut.PutResult(None)
  private val Throttled = BatchPut.PutResult(Some("ProvisionedThroughputExceededException"))

  def put(recs: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = {
    val t0 = Clock.now()
    inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max(_, _))
    val deadline = System.nanoTime() + rttNanos
    var left = rttNanos
    while (left > 0) { LockSupport.parkNanos(left); left = deadline - System.nanoTime() }
    val now = Clock.now()
    var firstId = -1L
    val out = recs.map { r =>
      val id = ServiceState.eventId(r.data)
      if (firstId < 0) firstId = id
      if (id < 0 || id >= n) { malformed.incrementAndGet(); Accepted }
      else {
        val i = id.toInt
        val attempt = sends.getAndIncrement(i)
        if (attempt > 0) retryRecords.incrementAndGet()
        if (throttle.exists(_.rejects(seed, id, attempt, hostRanks(i)))) {
          if (attempt == maxRetries) { resolvedAt.set(i, now); resolved.incrementAndGet() }
          Throttled
        } else {
          if (accepts.getAndIncrement(i) == 0) {
            payloads.set(i, r.data); keys.set(i, r.key)
            resolvedAt.set(i, now); firstAccepts.incrementAndGet(); resolved.incrementAndGet()
          }
          Accepted
        }
      }
    }
    inflight.decrementAndGet()
    val t1 = Clock.now()
    calls.incrementAndGet(); records.addAndGet(recs.size); putNanos.addAndGet(t1 - t0)
    val sp = spans
    if (sp != null) sp.add("sink.put", t0, t1, parentSpan, s"event:$firstId")
    out
  }

  /** Forget everything about events `from until to` and zero the call
    * counters, so the same events can be shipped again. */
  def reset(from: Int, to: Int): Unit = {
    var i = from
    while (i < to) {
      sends.set(i, 0); accepts.set(i, 0); resolvedAt.set(i, 0)
      payloads.set(i, null); keys.set(i, null)
      i += 1
    }
    takeCounters()
  }

  /** The call counters since the last call. */
  def takeCounters(): SinkCounters =
    SinkCounters(calls.getAndSet(0), records.getAndSet(0), retryRecords.getAndSet(0),
      firstAccepts.getAndSet(0), putNanos.getAndSet(0), inflightMax.getAndSet(0))
}

/** What the service saw of the sink's calls over an interval. */
final case class SinkCounters(calls: Long, records: Long, retryRecords: Long,
    firstAccepts: Long, putNanos: Long, inflightMax: Int)

object ServiceState {
  private val Prefix = "\"event_id\":".getBytes("UTF-8")

  /** The event id in an NDJSON payload, or -1. */
  def eventId(data: Array[Byte]): Long = {
    var i = 0
    while (i + Prefix.length < data.length && !matches(data, i)) i += 1
    if (i + Prefix.length >= data.length) return -1L
    var j = i + Prefix.length
    var v = 0L
    var digits = 0
    while (j < data.length && data(j) >= '0' && data(j) <= '9') {
      v = v * 10 + (data(j) - '0'); j += 1; digits += 1
    }
    if (digits == 0 || digits > 18) -1L else v
  }

  private def matches(data: Array[Byte], at: Int): Boolean = {
    var k = 0
    while (k < Prefix.length && data(at + k) == Prefix(k)) k += 1
    k == Prefix.length
  }
}

/** The live service of this JVM. Spark's local executors run in the
  * benchmark's own process, so every putter instance reaches it. */
object Service {
  @volatile var state: ServiceState = _
}

final class BenchPutter extends BatchPut.Putter with Serializable {
  def put(records: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = Service.state.put(records)
}
