package graft

import graft.config.{FirehoseConfig, StreamsConfig}
import graft.sink.BatchPut
import graft.streaming.{Observability, Pipeline}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** No-arg-constructible putter for the DSv2 `putter.class` option — the
  * reflective twin of the reference's injectable kinesisStreamsClient seam. */
class RegistryPutter extends BatchPut.Putter {
  def put(records: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = {
    records.foreach(RegistryPutter.got.add)
    records.map(_ => BatchPut.PutResult(None))
  }
}
object RegistryPutter {
  val got = new java.util.concurrent.ConcurrentLinkedQueue[BatchPut.Record]()
}

/** A fault-injecting service that keeps its own ground truth: payloads
  * naming `flaky` fail their first put, payloads naming `poison` fail every
  * put (so their chunk exhausts `max_retries`). A call whose first record
  * was put before is a retry: a chunk's retries re-send only its own
  * records, and every payload is unique. */
object FaultyPutter extends BatchPut.Putter with Serializable {
  val attempts = new ConcurrentHashMap[String, Integer]()
  val accepted: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val calls, retryCalls = new AtomicLong
  def reset(): Unit = { attempts.clear(); accepted.clear(); calls.set(0); retryCalls.set(0) }
  def put(records: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = {
    val payloads = records.map(r => new String(r.data, UTF_8))
    calls.incrementAndGet()
    if (attempts.containsKey(payloads.head)) retryCalls.incrementAndGet()
    payloads.map { p =>
      val n = attempts.merge(p, 1, (a, b) => a + b)
      val fails = p.contains("poison") || (p.contains("flaky") && n == 1)
      if (!fails) accepted.add(p)
      BatchPut.PutResult(if (fails) Some("ProvisionedThroughputExceededException") else None)
    }
  }
  /** What the service saw, in the sink's terms. */
  def truth: BatchPut.PublishStats = BatchPut.PublishStats(batch = attempts.size,
    acked = accepted.size, dropped = attempts.size - accepted.size,
    retries = retryCalls.get, calls = calls.get)
}

/** DataSource V2 sink registration spec (SURVEY §2.5 O3): the short name
  * resolves via DataSourceRegister, options validate at plan time, both
  * the streaming and batch write paths deliver through BatchPut, and the
  * `Pipeline` sinks are this one path, with its delivery counts in the
  * streaming progress. */
class DsV2SinkSpec extends SparkSpec {
  import spark.implicits._

  test("writeStream.format(graft-streams) delivers keyed NDJSON records") {
    RegistryPutter.got.clear()
    val inDir = Files.createTempDirectory("graft-dsv2-in").toFile
    val ckDir = Files.createTempDirectory("graft-dsv2-ck").toFile
    val schema = StructType(Seq(
      StructField("host", StringType), StructField("msg", StringType)))
    Files.writeString(new java.io.File(inDir, "a.ndjson").toPath,
      """{"host":"web-1","msg":"hello"}
        |{"host":"web-2","msg":"world"}
        |""".stripMargin)
    val cfg = StreamsConfig(region = "us-east-1", streamName = "t", partitionKey = "host")
    val src = Pipeline.readNdjsonStream(spark, inDir.getAbsolutePath, schema)
    val (records, _) = Pipeline.publishTransform(src, cfg)
    val q = records.writeStream
      .format("graft-streams")
      .option("region", "us-east-1")
      .option("stream_name", "t")
      .option("putter.class", classOf[RegistryPutter].getName)
      .option("checkpointLocation", ckDir.getAbsolutePath)
      .trigger(Trigger.ProcessingTime(100))
      .start()
    try q.processAllAvailable() finally q.stop()
    val recs = RegistryPutter.got.toArray(Array.empty[BatchPut.Record])
    assert(recs.length == 2)
    assert(recs.map(_.key).sorted.toSeq == Seq("web-1", "web-2"))
    assert(recs.forall(r => new String(r.data, "UTF-8").endsWith("\n")))
  }

  test("batch write path shares the delivery machinery") {
    RegistryPutter.got.clear()
    Seq(("a", "k1"), ("b", "k2"), ("c", "k1"))
      .toDF("data", "partition_key")
      .write.format("graft-streams")
      .option("region", "us-east-1").option("stream_name", "t")
      .option("putter.class", classOf[RegistryPutter].getName)
      .mode("append").save()
    val recs = RegistryPutter.got.toArray(Array.empty[BatchPut.Record])
    assert(recs.length == 3)
    assert(recs.map(_.key).count(_ == "k1") == 2)
  }

  test("invalid options fail at plan time like outputs.Fail") {
    val df = Seq(("a", "k")).toDF("data", "partition_key")
    val e = intercept[Exception] {
      df.write.format("graft-streams")
        .option("stream_name", "t") // region missing
        .option("putter.class", classOf[RegistryPutter].getName)
        .mode("append").save()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("region is not defined")), e.toString)
  }

  private val hostSchema = StructType(Seq(
    StructField("host", StringType), StructField("msg", StringType)))

  /** A directory holding one NDJSON file of `lines`. */
  private def ndjsonDir(prefix: String, lines: Seq[String]): String = {
    val dir = Files.createTempDirectory(prefix)
    Files.writeString(dir.resolve("a.ndjson"), lines.mkString("", "\n", "\n"))
    dir.toString
  }

  private def ck(): String = Files.createTempDirectory("graft-dsv2-path-ck").toString

  test("the Pipeline sinks run on the graft-streams sink") {
    RegistryPutter.got.clear()
    val in = ndjsonDir("graft-dsv2-path-in", Seq("""{"host":"web-1","msg":"a"}"""))
    val cfg = StreamsConfig(region = "us-east-1", streamName = "t", partitionKey = "host")
    val src = Pipeline.readNdjsonStream(spark, in, hostSchema)
    val queries = Seq(
      Pipeline.toKinesisShapedSink(Pipeline.publishTransform(src, cfg)._1, cfg,
        () => new RegistryPutter, ck(), 100.millis),
      Pipeline.toFirehoseShapedSink(Pipeline.firehoseTransform(src),
        FirehoseConfig(region = "us-east-1", streamName = "fh"),
        () => new RegistryPutter, ck(), 100.millis)).map(_.start())
    queries.foreach { q =>
      try q.processAllAvailable() finally q.stop()
      assert(q.lastProgress.sink.description == "graft-streams")
    }
    assert(RegistryPutter.got.asScala.map(_.key).toSeq.sorted == Seq("", "web-1"))
  }

  test("an invalid typed config fails at start() with fromOptions' message") {
    val src = Pipeline.readNdjsonStream(spark, ndjsonDir("graft-dsv2-bad-in", Nil), hostSchema)
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val opts = Map("region" -> "us-east-1", "stream_name" -> "t", "batch_size" -> "0")
    val streams = Pipeline.toKinesisShapedSink(src.selectExpr("msg AS data"),
      StreamsConfig(region = "us-east-1", streamName = "t", batchSize = 0),
      () => new RegistryPutter, ck(), 100.millis)
    val firehose = Pipeline.toFirehoseShapedSink(src.selectExpr("msg AS data"),
      FirehoseConfig(region = "us-east-1", streamName = "t", batchSize = 0),
      () => new RegistryPutter, ck(), 100.millis)
    for ((writer, expected) <- Seq(streams -> StreamsConfig.fromOptions(opts),
        firehose -> FirehoseConfig.fromOptions(opts))) {
      val e = intercept[Exception](writer.start())
      assert(msgs(e).contains(expected.left.toOption.get), e.toString)
    }
    assert(spark.streams.active.isEmpty)
  }

  test("delivery counts in the progress equal the service's ground truth, drops included") {
    FaultyPutter.reset()
    // one file, one task: chunks of 2 in file order — (ok, flaky) fails one
    // record once, (poison, poison) exhausts max_retries
    val msgs = Seq("ok-0", "flaky-1", "ok-2", "ok-3", "poison-4", "poison-5", "ok-6", "ok-7")
    val in = ndjsonDir("graft-dsv2-faults-in",
      msgs.map(m => s"""{"host":"web-${m.last}","msg":"$m"}"""))
    val cfg = StreamsConfig(region = "us-east-1", streamName = "t", partitionKey = "host",
      batchSize = 2, maxRetries = 2, backoffInit = 1.milli, backoffMax = 2.millis)
    val forwarded = new ConcurrentLinkedQueue[Observability.BatchMetrics]()
    val listener = new Observability.PublishListener(forwarded.add(_))
    spark.streams.addListener(listener)
    try {
      val src = Pipeline.readNdjsonStream(spark, in, hostSchema)
      val q = Pipeline.toKinesisShapedSink(Pipeline.publishTransform(src, cfg)._1, cfg,
        () => FaultyPutter, ck(), 100.millis).start()
      try q.processAllAvailable() finally q.stop()
      val truth = FaultyPutter.truth
      assert(truth == BatchPut.PublishStats(batch = 8, acked = 6, dropped = 2,
        retries = 3, calls = 7), "the fixture's faults fired as designed")
      val reported = q.recentProgress.map(p => BatchPut.PublishStats.fromMetrics(p.sink.metrics))
      assert(reported.reduce(_ + _) == truth)
      val deadline = System.nanoTime() + 30.seconds.toNanos
      def sum = forwarded.asScala.map(_.delivery).foldLeft(BatchPut.PublishStats())(_ + _)
      while (System.nanoTime() < deadline && sum != truth) Thread.sleep(100)
      assert(sum == truth, "PublishListener forwards the sink counters")
      assert(forwarded.asScala.map(_.nEvents).sum == 8L)
    } finally spark.streams.removeListener(listener)
  }

  test("one delivery path: no foreachBatch or foreachPartition in graft.sink or Pipeline") {
    val st = Files.walk(Paths.get("src/main/scala/graft/sink"))
    val files =
      try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally st.close()
    assert(files.nonEmpty)
    val offenders = (Paths.get("src/main/scala/graft/streaming/Pipeline.scala") :: files)
      .filter(p => Seq("foreachBatch", "foreachPartition").exists(Files.readString(p).contains))
    assert(offenders.isEmpty, s"deliver through graft-streams only: $offenders")
  }
}
