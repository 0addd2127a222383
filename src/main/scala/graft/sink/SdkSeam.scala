package graft.sink

/** Where the real AWS SDK clients plug in.
  *
  * This container is zero-egress and carries no AWS SDK jars, so the
  * production putters cannot be compiled or exercised here — the seam is the
  * [[BatchPut.Putter]] trait (the engine-side twin of the reference's
  * `kinesisStreamsClient` interface, s12v/awsbeats streams/client.go:27-29).
  * Every delivery-semantics behavior (chunking, per-record failure zip,
  * retry, backoff, at-least-once) lives OUTSIDE the seam in [[BatchPut]] and
  * is fully tested against stubs, so a production putter only maps one
  * request/response pair. `put` is called from several threads at once (a
  * writer keeps up to [[BatchPut.MaxInflightCalls]] calls in flight), which
  * the AWS SDK clients, being thread-safe, already allow:
  *
  * {{{
  * // Kinesis Data Streams (PutRecords, streams/client.go:155-165):
  * final class KinesisPutter(region: String, streamName: String)
  *     extends BatchPut.Putter {
  *   private lazy val client = KinesisClient.builder().region(Region.of(region)).build()
  *   def put(records: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = {
  *     val entries = records.map(r => PutRecordsRequestEntry.builder()
  *       .data(SdkBytes.fromByteArray(r.data)).partitionKey(r.key).build())
  *     val resp = client.putRecords(PutRecordsRequest.builder()
  *       .streamName(streamName).records(entries.asJava).build())
  *     // zip BY INDEX, exactly like BatchPut.collectFailed expects;
  *     // a null/empty errorCode means accepted (issue #27 tolerance)
  *     resp.records().asScala.toSeq.map(r =>
  *       BatchPut.PutResult(Option(r.errorCode()).filter(_.nonEmpty)))
  *   }
  * }
  *
  * // Firehose (PutRecordBatch, firehose/client.go:138-144): identical shape,
  * // entries carry only data, responses come from resp.requestResponses().
  * }}}
  *
  * Wiring: one delivery path, the `graft-streams` writer, configured either
  * with a serializable factory — `() => new KinesisPutter(cfg.region,
  * cfg.streamName)` into `Pipeline.toKinesisShapedSink` — or with
  * `putter.class=com.example.KinesisPutter` on `format("graft-streams")`
  * (needs the no-arg-constructor variant reading region/stream from system
  * properties or a config file).
  *
  * Credentials/timeout: the SDK default chain handles credentials on a real
  * cluster (instance profile / IRSA); set the client's apiCallTimeout to
  * `cfg.timeout` (90 s default, streams/config.go:32) for parity.
  */
object SdkSeam
