package graft.streaming

import graft.config.{SinkConfig, StreamsConfig}
import graft.encode.Ndjson
import graft.keys.PartitionKeys
import graft.sink.{BatchPut, GraftStreamsProvider}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row
import scala.concurrent.duration.FiniteDuration

/** The event pipeline — Spark twin of the reference's Publish path wired as
  * Structured Streaming (SURVEY.md §3.3 mapping):
  *
  *   libbeat queue flush (flush.min_events/timeout)  ≈ micro-batch trigger
  *   mapEvents (encode + key, drop failures)         ≈ narrow transform stage
  *   putKinesisRecords + collectFailed + backoff     ≈ graft-streams DSv2 writer
  *   batch.ACK → registrar offset commit             ≈ checkpoint commit
  *
  * Sources: file-tail NDJSON (S2 — filebeat prospector twin) and `rate` (S3/S4
  * synthesis for tests). Processors: drop-by-regex (F3), static enrichment
  * (P4), top-N (metricbeat include_top_n). Delivery: at-least-once — replayed
  * micro-batches re-put records, same as the reference's retry-subset
  * semantics (E3).
  */
object Pipeline {

  /** S2: tail an NDJSON directory as a stream with a declared schema;
    * corrupt lines are dropped-and-counted downstream via [[Ndjson.parseLines]]
    * on the raw text (json.add_error_key twin). */
  def readNdjsonStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dir)
      .transform(lines => Ndjson.parseLines(lines, schema)._1)

  /** S3 synthesis: a metricbeat-poll-shaped stream from the built-in `rate`
    * source (example/metricbeat/metricbeat.yml:19-50 — periodic system
    * metric snapshots). Deterministic per `value`, so tests can assert. */
  def syntheticMetrics(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(
        col("timestamp").as("ts"),
        concat(lit("host-"), (col("value") % 8).cast("string")).as("host"),
        lit("system.cpu").as("metricset"),
        (pmod(hash(col("value")), lit(10000)) / 100.0).as("pct"))

  /** S4 synthesis: heartbeat-probe-shaped stream (example/heartbeat/
    * heartbeat.yml:1-16 — scheduled up/down checks). */
  def syntheticProbes(spark: SparkSession, rowsPerSecond: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(
        col("timestamp").as("ts"),
        concat(lit("svc-"), (col("value") % 4).cast("string")).as("monitor"),
        when(pmod(hash(col("value")), lit(100)) < 95, lit("up"))
          .otherwise(lit("down")).as("status"))

  /** F3: drop events whose field matches a regex
    * (example/metricbeat/metricbeat.yml:44-46). */
  def dropWhereMatches(df: DataFrame, field: String, pattern: String): DataFrame =
    df.filter(!col(field).rlike(pattern))

  /** P4: add_cloud_metadata twin — constant enrichment struct resolved once
    * at plan time (Catalyst constant-folds it; zero per-row cost). */
  def enrich(df: DataFrame, provider: String, instanceId: String): DataFrame =
    df.withColumn("cloud", struct(
      lit(provider).as("provider"), lit(instanceId).as("instance_id")))

  /** metricbeat `include_top_n` twin: keep the top n rows per group by a
    * metric (example/metricbeat/metricbeat.yml:36-38). */
  def topNPerGroup(df: DataFrame, group: Column, metric: Column, n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(metric.desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
  }

  /** The full publish transform (P1 + K1/K2 + F2): encode NDJSON, attach the
    * configured partition key, split off key-failures. Returns
    * (records, dropped) — records are (data, partition_key); `dropped`
    * keeps the input rows whose key resolved NULL, with their
    * `partition_key` column, on a side output for audit instead of letting
    * them vanish (the F2 filter of streams/client.go:148-151; SURVEY §4.3
    * "dropped-event side channel"). */
  def publishTransform(df: DataFrame, cfg: StreamsConfig): (DataFrame, DataFrame) = {
    val key = PartitionKeys.forConfig(cfg, df.schema)
    // M1 counters ride on the keyed frame BEFORE the null-key filter, so
    // per-micro-batch drops are observable (Observability.PublishListener).
    val keyed = Observability.observed(df.withColumn("partition_key", key))
    val ok = keyed.filter(col("partition_key").isNotNull)
    val dropped = keyed.filter(col("partition_key").isNull)
    // payload = the event's own columns; the key rides alongside, not inside
    // (streams/client.go:153 — {Data, PartitionKey}).
    val records = ok.select(Ndjson.data(df.columns.toIndexedSeq), col("partition_key"))
    (records, dropped)
  }

  /** Wire a keyed-record stream into the Kinesis-shaped sink with a
    * processing-time trigger (the flush.timeout twin) and checkpointing
    * (the ACK/registrar twin), through `format("graft-streams")`
    * ([[GraftStreamsProvider]]). `newPutter` must be serializable; each task
    * calls it once. `cfg` is validated in `start()`. */
  def toKinesisShapedSink(records: DataFrame, cfg: StreamsConfig,
      newPutter: () => BatchPut.Putter, checkpointDir: String,
      trigger: FiniteDuration): DataStreamWriter[Row] =
    toGraftStreams(records, cfg, newPutter, checkpointDir, trigger)

  /** P2: the firehose publish transform — encode + newline, NO partition key
    * (firehose/client.go:111-137; the sink record is {Data} only,
    * firehose/client.go:136). Encode-failures were already dropped at parse
    * time (F1), matching mapEvents' fold. */
  def firehoseTransform(df: DataFrame): DataFrame = Ndjson.encode(df)

  /** O2 terminal twin: the reference's firehose delivers onward to
    * S3-as-NDJSON for Athena (streams/client.go:140-144 documents the
    * pipeline); the engine's equivalent terminal sink is date-partitioned
    * NDJSON text on a file sink — EXACTLY-ONCE via checkpoint + file-commit
    * protocol, unlike the at-least-once service sink (documented guarantee
    * gap, SURVEY §7.4). Partitioning by event date keeps downstream scans
    * partition-prunable. */
  def toNdjsonFileSink(events: DataFrame, tsCol: String, outDir: String,
      checkpointDir: String, trigger: FiniteDuration): DataStreamWriter[Row] =
    events
      .withColumn("event_date", date_format(col(tsCol), "yyyy-MM-dd"))
      .withColumn("value",
        to_json(struct(events.columns.map(col).toIndexedSeq: _*)))
      .select(col("event_date"), col("value"))
      .writeStream
      .format("text")
      .partitionBy("event_date")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(trigger.toMillis))

  /** O2: wire an unkeyed record stream into the firehose-shaped sink — same
    * writer and delivery machinery, records carry an empty key. */
  def toFirehoseShapedSink(records: DataFrame, cfg: graft.config.FirehoseConfig,
      newPutter: () => BatchPut.Putter, checkpointDir: String,
      trigger: FiniteDuration): DataStreamWriter[Row] =
    toGraftStreams(records, cfg, newPutter, checkpointDir, trigger)

  private def toGraftStreams(records: DataFrame, cfg: SinkConfig,
      newPutter: () => BatchPut.Putter, checkpointDir: String,
      trigger: FiniteDuration): DataStreamWriter[Row] =
    records.writeStream
      .format("graft-streams")
      .options(GraftStreamsProvider.handoff(cfg, newPutter))
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(trigger.toMillis))

  // ------------------------------------------------------------------
  // Streaming semantics beyond the reference (SURVEY §2.8 streaming row):
  // watermarks, event-time windows, session windows, stateful dedup.
  // ------------------------------------------------------------------

  /** Tumbling event-time window counts with a watermark bounding state and
    * dropping late rows. */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
      window_ : String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .count()

  /** Event-time session windows (gap-based), watermarked. */
  def sessionCounts(events: DataFrame, tsCol: String, watermark: String,
      gap: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** Stateful streaming dedup on a key within the watermark horizon — the
    * streaming twin of the exact-dedup surface (state is bounded by the
    * watermark, so it holds at unbounded input). */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)
}
