package graft.streaming

import graft.sink.BatchPut.PublishStats
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Delivery observability (SURVEY.md §2.7 M1) — the Spark twin of the
  * reference's observer counters (s12v/awsbeats streams/client.go:87-96,
  * firehose/client.go:71-79): per published batch, how many events came in
  * and how many were dropped before the service call.
  *
  * Implementation: `Dataset.observe` attaches the counters to the streaming
  * plan itself — they are computed inside the running tasks (no second pass,
  * no driver collect) and surface on every micro-batch through
  * `StreamingQueryProgress.observedMetrics`. The reference's streams-path
  * quirk (metrics only reported when dropped > 0, client.go:88-95) is
  * deliberately NOT copied — every batch reports.
  *
  * This layer counts the encode/key stage (F1/F2 drops); [[PublishListener]]
  * forwards the sink's service-side [[graft.sink.BatchPut.PublishStats]]
  * alongside.
  */
object Observability {

  val DefaultName = "graft_publish"

  /** Attach M1 counters to a keyed event frame (before the null-key filter,
    * so dropped rows are counted): n_events = batch size, n_dropped = rows
    * whose partition key failed to resolve (F2). */
  def observed(keyed: DataFrame, name: String = DefaultName): DataFrame =
    keyed.observe(name,
      count(lit(1)).as("n_events"),
      coalesce(sum(when(col("partition_key").isNull, 1L).otherwise(0L)), lit(0L))
        .as("n_dropped"))

  /** One micro-batch's counters: the encode side (`nEvents` in, `nDropped`
    * with no partition key) and the sink's `delivery` (observer M1 contract:
    * NewBatch(n) / Dropped(d) / Acked(delivery.acked)). */
  final case class BatchMetrics(batchId: Long, nEvents: Long, nDropped: Long,
      delivery: PublishStats = PublishStats()) {
    /** Events handed to the sink: events − key drops, not service acks. */
    def nKeyed: Long = nEvents - nDropped
  }

  /** Streaming listener that forwards the observed M1 counters per
    * micro-batch, with the sink's delivery counters of the same progress.
    * Register with `spark.streams.addListener`. */
  class PublishListener(onMetrics: BatchMetrics => Unit,
      name: String = DefaultName) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val om = e.progress.observedMetrics
      if (om.containsKey(name)) {
        val row = om.get(name)
        onMetrics(BatchMetrics(
          e.progress.batchId,
          row.getAs[Long]("n_events"),
          row.getAs[Long]("n_dropped"),
          PublishStats.fromMetrics(e.progress.sink.metrics)))
      }
    }
  }
}
