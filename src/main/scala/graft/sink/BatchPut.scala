package graft.sink

import graft.config.{SinkConfig, StreamsConfig}
import java.util.concurrent.{Callable, ExecutionException, Future, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration._

/** The Kinesis/Firehose-shaped delivery machinery — the Spark twin of the
  * reference's hot path and its most load-bearing semantics (SURVEY.md §2.6):
  *
  *   - chunking into ≤500-record service calls (streams/config.go:24-28,
  *     outputs.Success batch re-slicing, streams/streams.go:39);
  *   - per-record failure zip BY INDEX against the records actually sent
  *     (collectFailedEvents, streams/client.go:167-189) — deliberately fixed
  *     vs the reference, which zips against the pre-drop event slice
  *     (client.go:91-99), a latent off-by-mapping (SURVEY §7.4);
  *   - nil-record / nil-error-code tolerance: a missing response entry or
  *     absent error code counts as success-with-warning
  *     (streams/client.go:172-180, refs awsbeats issue #27);
  *   - failed-subset retry with exponential backoff 1s→60s
  *     (outputs.WithBackoff, streams/streams.go:38; defaults config.go:30-39);
  *   - per-call client-op timeout (streams/config.go:32's 90 s, there applied
  *     to the AWS HTTP client): a hung call is cancelled and fails into the
  *     same retry path rather than blocking the task;
  *   - a total-call failure retries the whole chunk
  *     (streams/client.go:100-102);
  *   - retry budget `max_retries`, then events DROP (at-least-once overall:
  *     a partially-failed call that is retried may duplicate already-accepted
  *     records — documented parity, streams/client.go:69-84);
  *   - observer metrics batch/acked/dropped/retries (M1,
  *     streams/client.go:87-96 — including the fix for the reference quirk
  *     where streams only reports when dropped > 0).
  *
  * The putter is an injectable seam exactly like the reference's
  * `kinesisStreamsClient` interface (streams/client.go:27-29), which is what
  * the ported delivery-semantics test matrix stubs (BatchPutSpec).
  *
  * Scale: one client per executor partition (the `graft-streams` writer,
  * [[GraftStreamsProvider]]) — the driver never sees a record; throughput
  * scales with partition count and the per-call cap matches the service
  * contract. Within one [[publish]] call the chunks run concurrently, at
  * most [[MaxInflightCalls]] service calls at once, so one chunk's backoff
  * does not hold back the others.
  * Each chunk keeps its own sequential put → retry → backoff loop; no order
  * between chunks is kept. With one chunk per call (`batch_size` 500) that
  * loop runs alone on the caller's thread. The [[Putter]] and the
  * [[Sleeper]] may be called from several threads at once.
  */
object BatchPut {

  /** Sink-side record: (data bytes, partition key) — streams/client.go:153.
    * `key` is empty for the firehose shape (firehose/client.go:136). */
  final case class Record(data: Array[Byte], key: String)

  /** Per-record service response: `errorCode` nonempty ⇒ failed record.
    * None models the nil response entry / nil code of issue #27. */
  final case class PutResult(errorCode: Option[String])

  /** Injectable service seam (≈ kinesisStreamsClient/firehoseClient). Throws
    * to model a total-call failure. */
  trait Putter {
    def put(records: Seq[Record]): Seq[PutResult]
  }

  /** Injectable clock so specs can assert backoff without sleeping. */
  type Sleeper = FiniteDuration => Unit

  /** Service calls one writer keeps in flight. The `graft-streams` writer
    * hands [[publish]] at most `MaxBatchSize` (500) records, which the
    * default `batch_size` (50) splits into `MaxBatchSize / DefaultBatchSize`
    * = 10 chunks: the default configuration puts all of its chunks in flight
    * at once, while a smaller
    * `batch_size` queues its extra chunks behind these 10 calls rather than
    * multiplying the connections a writer opens. Records in flight stay
    * ≤ 500 per writer either way. */
  val MaxInflightCalls: Int = StreamsConfig.MaxBatchSize / StreamsConfig.DefaultBatchSize

  /** Daemon pool running the chunk loops of [[publish]] and bounding each
    * service call at the config's client-op timeout. Cached threads die
    * after 60 s idle, so a quiet executor holds none; one pool per JVM is
    * shared by all partitions' writers, and being unbounded it cannot
    * deadlock a chunk loop waiting on its own put. */
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-put"); t.setDaemon(true); t
    })

  /** Run one service call under `timeout` — the reference's 90 s client-op
    * timeout (streams/config.go:32, applied to the AWS HTTP client), which
    * round 1 carried in SinkConfig but never enforced. A hung call is
    * cancelled (interrupting its thread) and surfaces as TimeoutException,
    * which [[publish]] treats like any total-call failure: the chunk goes
    * back through retry/backoff until the budget is exhausted — instead of
    * blocking the Spark task forever. */
  private[sink] def putWithTimeout(putter: Putter, recs: Seq[Record],
      timeout: FiniteDuration): Seq[PutResult] = {
    val task = pool.submit(new Callable[Seq[PutResult]] {
      def call(): Seq[PutResult] = putter.put(recs)
    })
    try task.get(timeout.toMillis, TimeUnit.MILLISECONDS)
    catch {
      case e: TimeoutException => task.cancel(true); throw e
      case e: ExecutionException => throw e.getCause // putter's own failure, unwrapped
      case e: InterruptedException =>
        // Spark killed the task while we were blocked: don't leave the
        // in-flight put running on the pool; propagate with the flag restored
        // so the task's own interruption handling still sees it.
        task.cancel(true); Thread.currentThread().interrupt(); throw e
    }
  }

  /** Delivery outcome counters (observer M1). */
  final case class PublishStats(
      batch: Long = 0, acked: Long = 0, dropped: Long = 0,
      retries: Long = 0, calls: Long = 0) {
    def +(o: PublishStats): PublishStats = PublishStats(
      batch + o.batch, acked + o.acked, dropped + o.dropped,
      retries + o.retries, calls + o.calls)

    /** These counters as sink progress metrics (`records` is [[batch]]). */
    def metrics: Map[String, String] = Map("records" -> batch, "acked" -> acked,
      "retries" -> retries, "dropped" -> dropped, "calls" -> calls).map(e => e._1 -> s"${e._2}")
  }

  object PublishStats {
    /** Inverse of [[PublishStats.metrics]]; an absent entry reads 0. */
    def fromMetrics(m: java.util.Map[String, String]): PublishStats = {
      def n(k: String): Long = Option(m.get(k)).fold(0L)(_.toLong)
      PublishStats(n("records"), n("acked"), n("dropped"), n("retries"), n("calls"))
    }
  }

  /** Zip service results to sent records by index; `errorCode` present and
    * nonempty ⇒ failed. Results shorter than the request (nil record) or
    * codes that are None/"" are tolerated as success (client.go:172-180). */
  def collectFailed(sent: IndexedSeq[Record], results: Seq[PutResult]): IndexedSeq[Record] = {
    val rs = results.toIndexedSeq
    sent.indices.collect {
      case i if i < rs.length && rs(i).errorCode.exists(_.nonEmpty) => sent(i)
    }
  }

  /** Publish one logical batch: chunk to `cfg.batchSize`, then per chunk loop
    * put → failed subset → exponential backoff → re-put, until clean or
    * `maxRetries` exhausted (then drop the stragglers). Up to
    * [[MaxInflightCalls]] chunk loops run at once: the caller's thread runs
    * one, pool threads the rest, each taking the next unclaimed chunk when
    * its current one is done. An interrupt (Spark killing the task) cancels
    * every chunk loop — each cancels its own in-flight put — and propagates
    * with the flag restored. */
  def publish(putter: Putter, cfg: SinkConfig, records: Seq[Record],
      sleep: Sleeper = d => Thread.sleep(d.toMillis)): PublishStats = {
    val chunks = records.grouped(cfg.batchSize).toIndexedSeq
    val next = new AtomicInteger
    def drain(): PublishStats = {
      var stats = PublishStats()
      var i = next.getAndIncrement()
      while (i < chunks.size) {
        stats += publishChunk(putter, cfg, chunks(i).toIndexedSeq, sleep)
        i = next.getAndIncrement()
      }
      stats
    }
    val helpers: Seq[Future[PublishStats]] =
      (1 until math.min(MaxInflightCalls, chunks.size)).map(_ =>
        pool.submit(new Callable[PublishStats] { def call(): PublishStats = drain() }))
    try {
      val own = drain()
      helpers.foldLeft(own.copy(batch = records.size)) { (acc, h) =>
        try acc + h.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } catch {
      case e: Throwable =>
        helpers.foreach(_.cancel(true))
        if (e.isInstanceOf[InterruptedException]) Thread.currentThread().interrupt()
        throw e
    }
  }

  /** One chunk's loop: put → failed subset → backoff → re-put. */
  private def publishChunk(putter: Putter, cfg: SinkConfig, chunk: IndexedSeq[Record],
      sleep: Sleeper): PublishStats = {
    var stats = PublishStats()
    var pending = chunk
    var attempt = 0
    var backoff = cfg.backoffInit
    while (pending.nonEmpty && attempt <= cfg.maxRetries) {
      if (attempt > 0) {
        sleep(backoff)
        backoff = (backoff * 2).min(cfg.backoffMax)
        stats = stats.copy(retries = stats.retries + 1)
      }
      stats = stats.copy(calls = stats.calls + 1)
      val failed = // hung or failed call ⇒ retry all (timeout = total-call failure)
        try collectFailed(pending, putWithTimeout(putter, pending, cfg.timeout))
        catch { case scala.util.control.NonFatal(_) => pending }
      stats = stats.copy(acked = stats.acked + (pending.size - failed.size))
      pending = failed
      attempt += 1
    }
    stats.copy(dropped = pending.size)
  }
}
