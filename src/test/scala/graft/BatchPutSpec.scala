package graft

import graft.config.StreamsConfig
import graft.sink.BatchPut
import graft.sink.BatchPut._
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.concurrent.duration._

/** Port of the reference's delivery-semantics spec — the five `publishEvents`
  * cases of streams/client_test.go:109-226 plus chunking/backoff, against a
  * stub putter (the kinesisStreamsClient seam, client_test.go:23-30). */
class BatchPutSpec extends AnyFunSuite {

  private val cfg = StreamsConfig("us-east-1", "s", batchSize = 50)
  private def recs(n: Int): Seq[Record] =
    (0 until n).map(i => Record(s"""{"i":$i}""" + "\n" getBytes "UTF-8", s"k$i"))
  private val noSleep: Sleeper = _ => ()

  /** Stub putter scripted per call. The call log is synchronized because the
    * timeout tests invoke `put` on the timeout-pool thread and assert from
    * the test thread after a timed-out get — `record`/`calls` give the
    * happens-before edge that a bare Buffer would lack. */
  class Stub(script: Seq[Record] => Seq[PutResult]*) extends Putter {
    private val log = mutable.Buffer[Seq[Record]]()
    protected def record(records: Seq[Record]): Int =
      log.synchronized { log += records; log.size }
    def calls: Seq[Seq[Record]] = log.synchronized { log.toList }
    def put(records: Seq[Record]): Seq[PutResult] = {
      val n = record(records)
      val f = if (n <= script.length) script(n - 1) else ok _
      f(records)
    }
  }
  private def ok(rs: Seq[Record]): Seq[PutResult] = rs.map(_ => PutResult(None))

  test("case 1: all records accepted -> everything acked, no retries") {
    val stub = new Stub(ok)
    val s = BatchPut.publish(stub, cfg, recs(5), noSleep)
    assert(s == PublishStats(batch = 5, acked = 5, dropped = 0, retries = 0, calls = 1))
  }

  test("case 2: nil response entries tolerated as success (issue #27)") {
    // response shorter than request — missing entries are not failures
    val stub = new Stub(rs => rs.dropRight(2).map(_ => PutResult(None)))
    val s = BatchPut.publish(stub, cfg, recs(5), noSleep)
    assert(s.acked == 5 && s.dropped == 0 && s.retries == 0)
  }

  test("case 3: nil/empty error code tolerated as success") {
    val stub = new Stub(rs => rs.map(_ => PutResult(Some(""))))
    val s = BatchPut.publish(stub, cfg, recs(5), noSleep)
    assert(s.acked == 5 && s.dropped == 0 && s.retries == 0)
  }

  test("case 4: real error codes -> only the failed subset is retried") {
    val stub = new Stub(
      rs => rs.zipWithIndex.map { case (_, i) =>
        PutResult(if (i % 2 == 0) Some("ProvisionedThroughputExceededException") else None)
      },
      ok)
    val s = BatchPut.publish(stub, cfg, recs(6), noSleep)
    assert(stub.calls(0).size == 6 && stub.calls(1).size == 3)
    // the retried subset is exactly the failed records, matched by index
    assert(stub.calls(1).map(_.key) == Seq("k0", "k2", "k4"))
    assert(s.acked == 6 && s.dropped == 0 && s.retries == 1 && s.calls == 2)
  }

  test("case 5: total call failure -> whole chunk retried, then acked") {
    val stub = new Stub(_ => throw new RuntimeException("boom"), ok)
    val s = BatchPut.publish(stub, cfg, recs(4), noSleep)
    assert(stub.calls(1).size == 4)
    assert(s.acked == 4 && s.dropped == 0 && s.retries == 1)
  }

  test("retry budget exhausted -> events drop (at-least-once, then give up)") {
    val stub = new Stub() {
      override def put(records: Seq[Record]): Seq[PutResult] = {
        record(records); records.map(_ => PutResult(Some("err")))
      }
    }
    val s = BatchPut.publish(stub, cfg, recs(4), noSleep)
    // initial + maxRetries attempts, then drop
    assert(stub.calls.size == cfg.maxRetries + 1)
    assert(s.dropped == 4 && s.acked == 0 && s.retries == cfg.maxRetries)
  }

  test("chunking: batches are re-sliced to batch_size, capped at 500") {
    val small = cfg.copy(batchSize = 3)
    val stub = new Stub()
    BatchPut.publish(stub, small, recs(10), noSleep)
    // chunks go out concurrently, so compare the calls as a multiset
    def keys(calls: Seq[Seq[Record]]) = calls.map(_.map(_.key)).sortBy(_.head)
    assert(keys(stub.calls) == keys(recs(10).grouped(3).toSeq))
    val sent = stub.calls.flatten.map(_.key)
    assert(sent.sorted == recs(10).map(_.key).sorted && sent.distinct.size == 10,
      "every record is sent exactly once")
  }

  test("backoff: exponential 1s -> 60s cap, slept between retries only") {
    val slept = mutable.Buffer[FiniteDuration]()
    val failing = new Stub() {
      override def put(records: Seq[Record]): Seq[PutResult] =
        records.map(_ => PutResult(Some("err")))
    }
    val many = cfg.copy(maxRetries = 8)
    BatchPut.publish(failing, many, recs(1), d => slept += d)
    assert(slept.toSeq == Seq(1, 2, 4, 8, 16, 32, 60, 60).map(_.seconds))
  }

  test("client-op timeout: a hung put is cancelled, retried, then budget-dropped") {
    // The reference's 90 s timeout wraps the AWS HTTP client; here every
    // attempt is bounded by cfg.timeout and a hang behaves exactly like a
    // total-call failure (retry/backoff until maxRetries, then drop).
    val hang = new Stub() {
      override def put(records: Seq[Record]): Seq[PutResult] = {
        record(records); Thread.sleep(60000); ok(records)
      }
    }
    val c = cfg.copy(timeout = 50.millis, maxRetries = 2)
    val t0 = System.nanoTime()
    val s = BatchPut.publish(hang, c, recs(3), noSleep)
    assert(hang.calls.size == c.maxRetries + 1) // initial + retries, each timed out
    assert(s.dropped == 3 && s.acked == 0 && s.retries == c.maxRetries)
    assert((System.nanoTime() - t0) < 10.seconds.toNanos,
      "a hung putter must not block past the timeout budget")
  }

  test("task interrupt while blocked on a put: in-flight call cancelled, flag restored") {
    val started = new CountDownLatch(1)
    val cancelled = new CountDownLatch(1)
    val hang = new Stub() {
      override def put(records: Seq[Record]): Seq[PutResult] = {
        record(records); started.countDown()
        try { Thread.sleep(60000); ok(records) }
        catch { case e: InterruptedException => cancelled.countDown(); throw e }
      }
    }
    @volatile var caught: Throwable = null
    @volatile var flagRestored = false
    val worker = new Thread(() => {
      // long client timeout: the interrupt, not the timeout, must fire
      try BatchPut.publish(hang, cfg.copy(timeout = 10.seconds), recs(2), noSleep)
      catch {
        case e: InterruptedException =>
          caught = e; flagRestored = Thread.currentThread().isInterrupted
      }
    }, "graft-spec-worker")
    worker.start()
    assert(started.await(5, TimeUnit.SECONDS))
    worker.interrupt()
    worker.join(5000)
    assert(!worker.isAlive, "interrupted worker must exit promptly")
    assert(caught != null, "InterruptedException must propagate, not be swallowed")
    assert(flagRestored, "the interrupt flag must be restored before rethrow")
    assert(cancelled.await(5, TimeUnit.SECONDS),
      "the in-flight put must be cancelled, not left running on the pool")
  }

  test("timeout then recovery: the whole chunk is re-put and acked") {
    val flaky = new Stub(
      rs => { Thread.sleep(60000); ok(rs) }, // first call hangs
      ok)
    val c = cfg.copy(timeout = 50.millis)
    val s = BatchPut.publish(flaky, c, recs(4), noSleep)
    assert(flaky.calls.size == 2 && flaky.calls(1).size == 4)
    assert(s.acked == 4 && s.dropped == 0 && s.retries == 1)
  }

  test("bounded concurrency: chunks run at once, never more than MaxInflightCalls") {
    val inflight = new AtomicInteger
    val inflightMax = new AtomicInteger
    val arrived = new CountDownLatch(BatchPut.MaxInflightCalls)
    val overflow = new CountDownLatch(BatchPut.MaxInflightCalls + 1)
    val release = new CountDownLatch(1)
    val gated = new Stub() {
      override def put(records: Seq[Record]): Seq[PutResult] = {
        record(records)
        inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max(_, _))
        arrived.countDown(); overflow.countDown()
        try { release.await(10, TimeUnit.SECONDS); ok(records) }
        finally inflight.decrementAndGet()
      }
    }
    val chunks = 3 * BatchPut.MaxInflightCalls
    @volatile var stats: PublishStats = null
    val worker = new Thread(() =>
      stats = BatchPut.publish(gated, cfg.copy(batchSize = 2), recs(2 * chunks), noSleep))
    worker.start()
    // every allowed call is blocked in put at the same moment ...
    assert(arrived.await(5, TimeUnit.SECONDS), "calls must run concurrently")
    // ... and, given time to, no further one joins them
    assert(!overflow.await(200, TimeUnit.MILLISECONDS), "more calls in flight than the bound")
    release.countDown()
    worker.join(10000)
    assert(!worker.isAlive)
    assert(inflightMax.get == BatchPut.MaxInflightCalls)
    assert(gated.calls.size == chunks)
    assert(stats == PublishStats(batch = 2 * chunks, acked = 2 * chunks, calls = chunks))
  }

  test("no head-of-line wait: one chunk's backoff does not delay another's acceptance") {
    // chunk k0-k1 is throttled on its first send; chunk k2-k3 is accepted
    val otherAcked = new CountDownLatch(1)
    val firstSend = new AtomicBoolean(true)
    val stub = new Stub() {
      override def put(records: Seq[Record]): Seq[PutResult] = {
        record(records)
        if (records.head.key == "k2") { otherAcked.countDown(); ok(records) }
        else if (firstSend.getAndSet(false))
          records.map(_ => PutResult(Some("ProvisionedThroughputExceededException")))
        else ok(records)
      }
    }
    // the backoff sleep records whether the other chunk got through while
    // this one waits; sequential chunks would leave it waiting here
    @volatile var ackedDuringBackoff = false
    val sleeper: Sleeper = _ => ackedDuringBackoff = otherAcked.await(5, TimeUnit.SECONDS)
    val s = BatchPut.publish(stub, cfg.copy(batchSize = 2), recs(4), sleeper)
    assert(ackedDuringBackoff, "the accepted chunk must not wait behind the backing-off one")
    assert(s == PublishStats(batch = 4, acked = 4, retries = 1, calls = 3))
  }

  test("task interrupt with several chunks in flight: every put cancelled, flag restored") {
    val chunks = 3
    val started = new CountDownLatch(chunks)
    val cancelled = new CountDownLatch(chunks)
    val hang = new Stub() {
      override def put(records: Seq[Record]): Seq[PutResult] = {
        record(records); started.countDown()
        try { Thread.sleep(60000); ok(records) }
        catch { case e: InterruptedException => cancelled.countDown(); throw e }
      }
    }
    @volatile var caught: Throwable = null
    @volatile var flagRestored = false
    val worker = new Thread(() => {
      try BatchPut.publish(hang, cfg.copy(batchSize = 2, timeout = 10.seconds),
        recs(2 * chunks), noSleep)
      catch {
        case e: InterruptedException =>
          caught = e; flagRestored = Thread.currentThread().isInterrupted
      }
    }, "graft-spec-worker")
    worker.start()
    assert(started.await(5, TimeUnit.SECONDS), "all chunks must be in flight")
    worker.interrupt()
    worker.join(5000)
    assert(!worker.isAlive, "interrupted worker must exit promptly")
    assert(caught != null, "InterruptedException must propagate, not be swallowed")
    assert(flagRestored, "the interrupt flag must be restored before rethrow")
    assert(cancelled.await(5, TimeUnit.SECONDS),
      "every in-flight put must be cancelled, not left running on the pool")
    assert(hang.calls.size == chunks, "no chunk is re-put after the interrupt")
  }

  test("hung chunk: it times out and retries while the other chunks ack") {
    val once = new AtomicBoolean
    val othersAcked = new CountDownLatch(3)
    val stub = new Stub() {
      override def put(records: Seq[Record]): Seq[PutResult] = {
        record(records)
        if (records.head.key != "k0") othersAcked.countDown()
        else if (once.compareAndSet(false, true)) Thread.sleep(60000)
        ok(records)
      }
    }
    // the hung chunk's backoff records whether the other chunks got through
    // without it; sequential chunks would still be queued behind it here
    @volatile var ackedWithoutIt = false
    val sleeper: Sleeper = _ => ackedWithoutIt = othersAcked.await(5, TimeUnit.SECONDS)
    val s = BatchPut.publish(stub, cfg.copy(batchSize = 2, timeout = 50.millis),
      recs(8), sleeper)
    assert(ackedWithoutIt, "the other chunks must not wait behind the hung one")
    assert(stub.calls.count(_.head.key == "k0") == 2, "the hung chunk is re-put once")
    assert(s == PublishStats(batch = 8, acked = 8, retries = 1, calls = 5))
  }

  test("collectFailed zips by index against the records actually sent") {
    val sent = recs(3).toIndexedSeq
    val failed = BatchPut.collectFailed(sent,
      Seq(PutResult(Some("e")), PutResult(None), PutResult(Some("e"))))
    assert(failed.map(_.key) == Seq("k0", "k2"))
  }
}
