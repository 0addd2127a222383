package graft.config

import scala.concurrent.duration._

/** Typed twins of the reference's output configs, with the exact validation
  * rules and defaults of s12v/awsbeats:
  *   - streams/config.go:8-39 (fields + defaults), :41-59 (Validate)
  *   - firehose/config.go:8-35 (fields + defaults), :37-51 (Validate)
  *
  * Validation happens at pipeline build time (the Spark analogue of libbeat
  * calling Validate() before the output starts — SURVEY.md §3.2), surfacing
  * as Left(reason) exactly where the reference returns `outputs.Fail`.
  */
sealed trait SinkConfig {
  def region: String
  def batchSize: Int
  def maxRetries: Int
  def timeout: FiniteDuration
  def backoffInit: FiniteDuration
  def backoffMax: FiniteDuration
  /** The reference's Validate(): `Left(reason)` is its `outputs.Fail`. */
  def validate: Either[String, SinkConfig]
}

/** Kinesis-Streams-shaped sink config (streams/config.go:8-17).
  * `partitionKeyProvider`: "" → field provider (even with empty key field),
  * "xid" → generated time-sortable unique keys (streams/client.go:49-55). */
final case class StreamsConfig(
    region: String = "",
    streamName: String = "",
    partitionKey: String = "",
    partitionKeyProvider: String = "",
    batchSize: Int = StreamsConfig.DefaultBatchSize,
    maxRetries: Int = 3,
    timeout: FiniteDuration = 90.seconds,
    backoffInit: FiniteDuration = 1.second,
    backoffMax: FiniteDuration = 60.seconds) extends SinkConfig {

  /** streams/config.go:41-59 + provider check at streams/client.go:49-55. */
  def validate: Either[String, StreamsConfig] =
    if (region.isEmpty) Left("region is not defined")
    else if (streamName.isEmpty) Left("stream_name is not defined")
    else if (batchSize > StreamsConfig.MaxBatchSize || batchSize < 1)
      Left(s"invalid batch size: $batchSize (must be in [1, ${StreamsConfig.MaxBatchSize}])")
    else if (partitionKeyProvider != "" && partitionKeyProvider != "xid")
      Left(s"invalid partition key provider: $partitionKeyProvider")
    else Right(this)
}

object StreamsConfig {
  /** AWS PutRecords hard cap (streams/config.go:24-28). */
  val MaxBatchSize = 500
  /** Injected only when unset (streams/streams.go:22-24, config.go:25). */
  val DefaultBatchSize = 50

  /** Untyped front end — the engine twin of the reference's YAML unpack path
    * (`cfg.Unpack` onto `defaultConfig`, streams/streams.go:22-29): a string
    * option map lands on the typed defaults with every key — including
    * `batch_size` — injected only when unset, then the same Validate() rules
    * run. Key names match the reference's config tags (streams/config.go:
    * 8-17; the nested backoff block flattens to `backoff.init`/`backoff.max`).
    * Shared by the DSv2 option parsing (GraftStreamsProvider) so the
    * format("graft-streams") route and programmatic construction have
    * identical semantics. */
  private val knownKeys = Set("region", "stream_name", "partition_key",
    "partition_key_provider", "batch_size", "max_retries", "timeout",
    "backoff.init", "backoff.max")

  /** @param tolerate extra keys the caller owns (e.g. the DSv2 route's
    *   `putter.class` and Spark-injected infrastructure options); everything
    *   else outside the reference's config tags is a config ERROR, so a
    *   typo'd key (`batchsize`) cannot silently fall back to the default. */
  def fromOptions(options: Map[String, String],
      tolerate: String => Boolean = _ => false): Either[String, StreamsConfig] =
    for {
      _ <- Configs.noUnknownKeys(options, knownKeys, tolerate)
      bs <- Configs.intOpt(options, "batch_size", DefaultBatchSize)
      mr <- Configs.intOpt(options, "max_retries", 3)
      to <- Configs.durationOpt(options, "timeout", 90.seconds)
      bi <- Configs.durationOpt(options, "backoff.init", 1.second)
      bm <- Configs.durationOpt(options, "backoff.max", 60.seconds)
      cfg <- StreamsConfig(
        region = options.getOrElse("region", ""),
        streamName = options.getOrElse("stream_name", ""),
        partitionKey = options.getOrElse("partition_key", ""),
        partitionKeyProvider = options.getOrElse("partition_key_provider", ""),
        batchSize = bs, maxRetries = mr, timeout = to,
        backoffInit = bi, backoffMax = bm).validate
    } yield cfg
}

/** Firehose-shaped sink config (firehose/config.go:8-15; no partition key). */
final case class FirehoseConfig(
    region: String = "",
    streamName: String = "",
    batchSize: Int = StreamsConfig.DefaultBatchSize,
    maxRetries: Int = 3,
    timeout: FiniteDuration = 90.seconds,
    backoffInit: FiniteDuration = 1.second,
    backoffMax: FiniteDuration = 60.seconds) extends SinkConfig {

  /** firehose/config.go:37-51: the streams rules, with no partition key. */
  def validate: Either[String, FirehoseConfig] =
    StreamsConfig(region, streamName, batchSize = batchSize).validate.map(_ => this)
}

object FirehoseConfig {
  /** Untyped front end for the firehose shape — same unpack-onto-defaults
    * semantics as [[StreamsConfig.fromOptions]] (firehose/firehose.go:22-29). */
  private val knownKeys = Set("region", "stream_name", "batch_size",
    "max_retries", "timeout", "backoff.init", "backoff.max")

  def fromOptions(options: Map[String, String],
      tolerate: String => Boolean = _ => false): Either[String, FirehoseConfig] =
    Configs.noUnknownKeys(options, knownKeys, tolerate)
      .flatMap(_ => StreamsConfig.fromOptions(options, tolerate))
      .map(s => FirehoseConfig(s.region, s.streamName, s.batchSize, s.maxRetries,
        s.timeout, s.backoffInit, s.backoffMax))
}

private[config] object Configs {
  /** Integer option with inject-default-only-if-unset; a present-but-invalid
    * value is a config ERROR (Left), not a silent default. */
  def intOpt(options: Map[String, String], key: String, dflt: Int): Either[String, Int] =
    options.get(key) match {
      case None => Right(dflt)
      case Some(v) => scala.util.Try(v.trim.toInt).toOption
        .toRight(s"invalid $key: '$v' (not an integer)")
    }

  /** Duration option ("90s", "500ms", "1 minute" — scala Duration syntax,
    * covering the Go time.Duration forms the reference's YAML uses). Must be
    * strictly positive: a zero Go http.Client timeout means NO timeout, but
    * here '0s' would make every put time out instantly (silently dropping
    * everything after maxRetries) and a negative backoff would throw from
    * Thread.sleep inside the Spark task — both are config errors, not knobs. */
  def durationOpt(options: Map[String, String], key: String,
      dflt: FiniteDuration): Either[String, FiniteDuration] =
    options.get(key) match {
      case None => Right(dflt)
      case Some(v) => scala.util.Try(Duration(v.trim)).toOption
        .collect { case f: FiniteDuration => f }
        .toRight(s"invalid $key: '$v' (expected a duration like '90s')")
        .filterOrElse(_ > Duration.Zero,
          s"invalid $key: '$v' (must be a positive duration)")
    }

  /** Reject keys outside the reference's config-tag vocabulary (minus the
    * caller-tolerated set), case-insensitively — the unpack-time typo guard. */
  def noUnknownKeys(options: Map[String, String], known: Set[String],
      tolerate: String => Boolean): Either[String, Unit] = {
    val unknown = options.keysIterator
      .filterNot(k => known(k.toLowerCase) || tolerate(k.toLowerCase)).toSeq.sorted
    if (unknown.isEmpty) Right(())
    else Left(s"unrecognized option(s): ${unknown.mkString(", ")}")
  }
}
