package graft.sink

import java.nio.ByteBuffer
import java.util
import java.util.concurrent.atomic.AtomicReference

import graft.config.{SinkConfig, StreamsConfig}
import org.apache.spark.SparkConf
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DataSource V2 registration of the Kinesis-shaped sink (SURVEY §2.5 O3 —
  * the Spark twin of the reference's plugin registration,
  * s12v/awsbeats plugins/kinesis/main.go:10-13), and the only delivery path:
  * `Pipeline.toKinesisShapedSink` and `toFirehoseShapedSink` write through it.
  *
  * {{{
  *   records.writeStream.format("graft-streams")
  *     .option("region", "us-east-1").option("stream_name", "events")
  *     .option("putter.class", "com.example.KinesisPutter")
  *     .option("checkpointLocation", ck).start()
  * }}}
  *
  * The short name resolves through the standard `DataSourceRegister`
  * service-loader file. Input schema: `data STRING` (NDJSON payload) plus an
  * optional `partition_key STRING` (absent ⇒ key `""`, the firehose shape).
  * Each task builds its own putter (one service client per executor core —
  * no driver round-trip) and routes its rows through [[BatchPut.publish]].
  *
  * The putter is configured by class name (`putter.class`, a no-arg
  * constructor implementing [[BatchPut.Putter]]) because DSv2 options are
  * string-only — the same seam the tests stub, and where a real AWS SDK
  * client factory plugs in. The config is validated in `start()`/`save()`
  * (≈ outputs.Fail). Each micro-batch's summed [[BatchPut.PublishStats]]
  * appear in `StreamingQueryProgress.sink.metrics`.
  */
class GraftStreamsProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-streams"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StructType.fromDDL("data STRING, partition_key STRING")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val (cfg, newPutter) =
      GraftStreamsProvider.sinkFrom(new CaseInsensitiveStringMap(properties).asScala.toMap)
    new GraftStreamsTable(schema, cfg, newPutter)
  }
}

object GraftStreamsProvider {
  /** Internal: carries `Pipeline`'s typed config and putter factory,
    * Java-serialized, in place of the config keys and `putter.class`. */
  private val Handoff = "putter.handoff"

  /** Options Spark itself injects on the DSv2 write path — not config, not
    * typos; everything else unknown is rejected by the shared front end. */
  private val infraKeys = Set("checkpointlocation", "path", "queryname")

  /** The validated config and the executor-side putter factory. DSv2
    * options go through the shared untyped front end
    * ([[StreamsConfig.fromOptions]]); `putter.*` keys belong to this
    * provider, anything else unrecognized fails like a typo'd YAML key. */
  private def sinkFrom(options: Map[String, String]): (SinkConfig, () => BatchPut.Putter) = {
    def fail(err: String) = throw new IllegalArgumentException(err)
    options.get(Handoff) match {
      case Some(h) =>
        val (cfg, newPutter) = serializer.deserialize[(SinkConfig, () => BatchPut.Putter)](
          ByteBuffer.wrap(util.Base64.getDecoder.decode(h)))
        (cfg.validate.fold(fail, identity), newPutter)
      case None =>
        val cfg = StreamsConfig.fromOptions(options,
          tolerate = k => k.startsWith("putter.") || infraKeys(k)).fold(fail, identity)
        val putterClass = options.getOrElse("putter.class", fail("putter.class option is required"))
        (cfg, () => newPutter(putterClass))
    }
  }

  /** The internal option that hands a typed config and a serializable
    * putter factory to this provider (used by `Pipeline`). */
  private[graft] def handoff(cfg: SinkConfig,
      newPutter: () => BatchPut.Putter): Map[String, String] =
    Map(Handoff -> util.Base64.getEncoder.encodeToString(
      JavaUtils.bufferToArray(serializer.serialize((cfg, newPutter)))))

  /** Spark's Java serializer resolves classes through the context class
    * loader, so factories defined by the caller's classes deserialize. */
  private def serializer = new JavaSerializer(new SparkConf(false)).newInstance()

  private def newPutter(className: String): BatchPut.Putter =
    Class.forName(className).getDeclaredConstructor()
      .newInstance().asInstanceOf[BatchPut.Putter]
}

private class GraftStreamsTable(schema0: StructType, cfg: SinkConfig,
    newPutter: () => BatchPut.Putter)
  extends Table with SupportsWrite with ReportsSinkMetrics {
  override def name(): String = "graft-streams"
  override def toString: String = name()
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE)

  /** Delivery outcomes committed since the last progress report, which
    * reads them once: each micro-batch reports its own. */
  private val delivered = new AtomicReference(BatchPut.PublishStats())
  override def metrics(): util.Map[String, String] =
    delivered.getAndSet(BatchPut.PublishStats()).metrics.asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWrite(new GraftWriterFactory(cfg, newPutter, info.schema().fieldIndex("data"),
      info.schema().fieldNames.indexOf("partition_key")),
      s => delivered.accumulateAndGet(s, _ + _))
}

/** Task-side writer: accumulates the partition's rows into ≤500-record
  * groups and publishes each — mirroring `Publish(batch)`'s unit of work —
  * then commits the task's summed outcomes. Epoch/commit metadata gives
  * at-least-once on replay (E3). `keyIdx` -1: every key is `""`. */
private class GraftDataWriter(cfg: SinkConfig, newPutter: () => BatchPut.Putter,
    dataIdx: Int, keyIdx: Int) extends DataWriter[InternalRow] {
  private val putter = newPutter()
  private val buf = scala.collection.mutable.ArrayBuffer.empty[BatchPut.Record]
  private var stats = BatchPut.PublishStats()

  override def write(row: InternalRow): Unit = {
    val data = row.getUTF8String(dataIdx).getBytes
    val key = if (keyIdx >= 0 && !row.isNullAt(keyIdx))
      row.getUTF8String(keyIdx).toString else ""
    buf += BatchPut.Record(data, key)
    if (buf.length >= StreamsConfig.MaxBatchSize) flush()
  }
  private def flush(): Unit = {
    if (buf.nonEmpty) { stats += BatchPut.publish(putter, cfg, buf.toSeq); buf.clear() }
  }
  override def commit(): WriterCommitMessage = { flush(); GraftCommit(stats) }
  override def abort(): Unit = buf.clear()
  override def close(): Unit = ()
}

private final case class GraftCommit(stats: BatchPut.PublishStats) extends WriterCommitMessage

private class GraftWriterFactory(cfg: SinkConfig, newPutter: () => BatchPut.Putter,
    dataIdx: Int, keyIdx: Int)
  extends StreamingDataWriterFactory with DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(cfg, newPutter, dataIdx, keyIdx)
}

/** Both write routes. A streaming epoch's commit sums its tasks' outcomes
  * into `report`; a batch write delivers the same way but ignores them
  * (it has no progress to carry them). */
private class GraftWrite(factory: GraftWriterFactory, report: BatchPut.PublishStats => Unit)
  extends WriteBuilder with Write with StreamingWrite with BatchWrite {
  override def build(): Write = this
  override def toStreaming: StreamingWrite = this
  override def toBatch: BatchWrite = this
  override def useCommitCoordinator(): Boolean = true // both traits' default
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    factory
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    report(messages.iterator.collect { case GraftCommit(s) => s }
      .foldLeft(BatchPut.PublishStats())(_ + _))
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}
