package graft

import graft.config.StreamsConfig
import graft.sink.BatchPut
import graft.streaming.Pipeline
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import java.sql.Timestamp
import scala.concurrent.duration._

/** A test event with an event-time column (ts drives watermarks). */
case class StreamEvt(event_id: Long, user_id: Long, event_type: String, ts: Timestamp)

/** A test document for the streaming curation pipeline. */
case class StreamDoc(doc_id: Long, text: String, ts: Timestamp)

object StreamingPipelineSpec {
  /** In-JVM collecting putter — local[n] keeps executors in this process, so
    * a synchronized static buffer observes everything the sink sends. */
  object CollectingPutter extends BatchPut.Putter with Serializable {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[BatchPut.Record]()
    def put(records: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = {
      records.foreach(got.add)
      records.map(_ => BatchPut.PutResult(None))
    }
  }
}

/** Streaming-path specs: the end-to-end publish pipeline (file source →
  * encode/key → Kinesis-shaped sink) and the beyond-reference streaming
  * semantics (watermarked windows, session windows, stateful dedup) —
  * SURVEY.md §2.8 streaming row, §3.3 lifecycle mapping. */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:$sec%02d")

  /** Poll a memory-sink table until `pred` holds (no-data micro-batches emit
    * finalized windows asynchronously after processAllAvailable returns). */
  private def awaitRows(table: String, pred: Seq[Row] => Boolean): Seq[Row] = {
    val deadline = System.nanoTime() + 30.seconds.toNanos
    var rows = Seq.empty[Row]
    while (System.nanoTime() < deadline && !pred(rows)) {
      rows = spark.table(table).collect().toSeq
      if (!pred(rows)) Thread.sleep(100)
    }
    rows
  }

  /** Every `batch=` partition of a store read as it lies on disk — no heal,
    * no manifest, no id distinct — to count what the writers left. */
  private def rawPartitions(dir: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getPath).toIndexedSeq: _*)

  test("end-to-end: NDJSON file stream -> encode+key -> kinesis-shaped sink") {
    import StreamingPipelineSpec.CollectingPutter
    CollectingPutter.got.clear()
    val inDir = Files.createTempDirectory("graft-ndjson-in").toFile
    val ckDir = Files.createTempDirectory("graft-ndjson-ck").toFile
    val schema = StructType(Seq(
      StructField("host", StringType), StructField("msg", StringType),
      StructField("level", StringType)))
    Files.writeString(new java.io.File(inDir, "a.ndjson").toPath,
      """{"host":"web-1","msg":"hello","level":"info"}
        |{"host":"web-2","msg":"boom","level":"error"}
        |not json at all
        |{"host":"web-1","msg":"again","level":"info"}
        |""".stripMargin)

    val cfg = StreamsConfig(region = "us-east-1", streamName = "t",
      partitionKey = "host")
    val src = Pipeline.readNdjsonStream(spark, inDir.getAbsolutePath, schema)
    val (records, _) = Pipeline.publishTransform(src, cfg)
    val q = Pipeline.toKinesisShapedSink(records, cfg,
        () => CollectingPutter, ckDir.getAbsolutePath, 100.millis)
      .start()
    try {
      q.processAllAvailable()
    } finally q.stop()

    val recs = CollectingPutter.got.toArray(Array.empty[BatchPut.Record])
    assert(recs.length == 3, "corrupt line dropped, 3 valid events delivered")
    val payloads = recs.map(r => new String(r.data, "UTF-8")).toSeq
    assert(payloads.forall(_.endsWith("\n")), "NDJSON newline contract (P1)")
    assert(recs.map(_.key).sorted.toSeq == Seq("web-1", "web-1", "web-2"),
      "partition key = configured field value (K1)")
    assert(payloads.exists(_.contains("\"msg\":\"boom\"")))
  }

  test("observe() metrics surface per-batch input/dropped counts (M1)") {
    import StreamingPipelineSpec.CollectingPutter
    CollectingPutter.got.clear()
    val inDir = Files.createTempDirectory("graft-obs-in").toFile
    val ckDir = Files.createTempDirectory("graft-obs-ck").toFile
    val schema = StructType(Seq(
      StructField("host", StringType), StructField("msg", StringType)))
    // two good events + one with a null key field (F2 drop)
    Files.writeString(new java.io.File(inDir, "a.ndjson").toPath,
      """{"host":"web-1","msg":"a"}
        |{"msg":"no host here"}
        |{"host":"web-2","msg":"b"}
        |""".stripMargin)
    val metrics = new java.util.concurrent.ConcurrentLinkedQueue[graft.streaming.Observability.BatchMetrics]()
    val listener = new graft.streaming.Observability.PublishListener(metrics.add(_))
    spark.streams.addListener(listener)
    try {
      val cfg = StreamsConfig(region = "us-east-1", streamName = "t", partitionKey = "host")
      val src = Pipeline.readNdjsonStream(spark, inDir.getAbsolutePath, schema)
      val (records, _) = Pipeline.publishTransform(src, cfg)
      val q = Pipeline.toKinesisShapedSink(records, cfg,
          () => CollectingPutter, ckDir.getAbsolutePath, 100.millis)
        .start()
      try q.processAllAvailable() finally q.stop()
      // listener events are async — poll briefly
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (System.nanoTime() < deadline &&
        !metrics.toArray(Array.empty[graft.streaming.Observability.BatchMetrics])
          .exists(_.nEvents > 0)) Thread.sleep(100)
      val m = metrics.toArray(Array.empty[graft.streaming.Observability.BatchMetrics])
        .filter(_.nEvents > 0)
      assert(m.nonEmpty, "at least one observed batch")
      assert(m.map(_.nEvents).sum == 3L, "all events counted")
      assert(m.map(_.nDropped).sum == 1L, "null-key row counted as dropped")
      assert(m.map(_.nKeyed).sum == 2L, "keyed = events - dropped")
      assert(CollectingPutter.got.size == 2, "only keyed events delivered")
    } finally spark.streams.removeListener(listener)
  }

  test("watermarked tumbling window finalizes once and drops late rows") {
    val mem = MemoryStream[StreamEvt]
    val out = Pipeline.windowedCounts(mem.toDF(), "ts",
      watermark = "10 minutes", window_ = "10 minutes")
    val q = out.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    try {
      // window [00:00,00:10): 2 clicks + 1 view
      mem.addData(
        StreamEvt(1, 1, "click", ts(1)), StreamEvt(2, 1, "click", ts(2)),
        StreamEvt(3, 2, "view", ts(3)))
      q.processAllAvailable()
      // advance watermark past 00:10 (event 01:00 => watermark 00:50)
      mem.addData(StreamEvt(4, 3, "click", ts(60)))
      q.processAllAvailable()
      // force one more batch so eviction against the new watermark runs
      mem.addData(StreamEvt(5, 3, "click", ts(65)))
      q.processAllAvailable()
      val rows = awaitRows("win_counts", _.nonEmpty)
      val byType = rows.map(r => (r.getAs[Row]("window").getAs[Timestamp]("start"),
        r.getAs[String]("event_type")) -> r.getAs[Long]("count")).toMap
      assert(byType((ts(0), "click")) == 2L)
      assert(byType((ts(0), "view")) == 1L)

      // a row older than the watermark is dropped, not re-aggregated
      mem.addData(StreamEvt(6, 9, "click", ts(4)))
      q.processAllAvailable()
      mem.addData(StreamEvt(7, 3, "click", ts(70)))
      q.processAllAvailable()
      val after = spark.table("win_counts").collect()
        .filter(r => r.getAs[Row]("window").getAs[Timestamp]("start") == ts(0))
        .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("count")).toMap
      assert(after == Map("click" -> 2L, "view" -> 1L),
        "late event must not reopen the finalized window")
    } finally q.stop()
  }

  test("stateful dedup within watermark emits each key once") {
    val mem = MemoryStream[StreamEvt]
    val out = Pipeline.dedupWithinWatermark(mem.toDF(), "ts",
      watermark = "10 minutes", keys = Seq("event_id"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(
        StreamEvt(1, 1, "click", ts(1)),
        StreamEvt(1, 1, "click", ts(2)),  // dup of 1 within horizon
        StreamEvt(2, 2, "view", ts(3)))
      q.processAllAvailable()
      mem.addData(StreamEvt(2, 2, "view", ts(4)), StreamEvt(3, 1, "click", ts(5)))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getAs[Long]("event_id")).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), "exactly one row per event_id")
    } finally q.stop()
  }

  test("firehose path: encode-only records, empty key, same delivery machinery") {
    import StreamingPipelineSpec.CollectingPutter
    CollectingPutter.got.clear()
    val inDir = Files.createTempDirectory("graft-fh-in").toFile
    val ckDir = Files.createTempDirectory("graft-fh-ck").toFile
    val schema = StructType(Seq(
      StructField("host", StringType), StructField("msg", StringType)))
    Files.writeString(new java.io.File(inDir, "a.ndjson").toPath,
      """{"host":"web-1","msg":"x"}
        |{"host":"web-2","msg":"y"}
        |""".stripMargin)
    val cfg = graft.config.FirehoseConfig(region = "us-east-1", streamName = "fh")
    val src = Pipeline.readNdjsonStream(spark, inDir.getAbsolutePath, schema)
    val q = Pipeline.toFirehoseShapedSink(Pipeline.firehoseTransform(src), cfg,
        () => CollectingPutter, ckDir.getAbsolutePath, 100.millis)
      .start()
    try q.processAllAvailable() finally q.stop()
    val recs = CollectingPutter.got.toArray(Array.empty[BatchPut.Record])
    assert(recs.length == 2)
    assert(recs.forall(_.key == ""), "firehose records carry no partition key (P2)")
    assert(recs.forall(r => new String(r.data, "UTF-8").endsWith("\n")))
  }

  test("flatMapGroupsWithState sessionizer closes on gap and on timeout") {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.UserEvent
    val mem = MemoryStream[UserEvent]
    val sessions = StatefulSessions.sessionize(
      mem.toDS().withWatermark("ts", "10 minutes").as[UserEvent],
      gapSeconds = 300)
    val q = sessions.writeStream.format("memory").queryName("fsess_out")
      .outputMode("append").start()
    try {
      // user 1: 00:00/00:02/00:04 chain; 00:30 closes it mid-stream
      mem.addData(
        UserEvent(1, ts(0), 1.0), UserEvent(1, ts(2), 2.0),
        UserEvent(1, ts(4), 3.0), UserEvent(1, ts(30), 4.0))
      q.processAllAvailable()
      // advance the watermark far past 00:30 + gap -> timeout-close
      mem.addData(UserEvent(2, ts(120), 0.5))
      q.processAllAvailable()
      mem.addData(UserEvent(2, ts(125), 0.5))
      q.processAllAvailable()
      val rows = awaitRows("fsess_out",
        _.count(_.getAs[Long]("user_id") == 1L) == 2)
      val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
        .map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("sess_value"))).sortBy(_._1)
      assert(u1 == Seq((1L, 4.0), (3L, 6.0)),
        s"expected gap-closed (3 events, 6.0) and timeout-closed (1 event, 4.0); got $u1")
    } finally q.stop()
  }

  test("streaming curation: quality gate, decontamination, watermarked dedup") {
    import graft.streaming.CurationStream
    val benchmark = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val hashes = CurationStream.benchmarkHashes(benchmark, "text", n = 8)
    assert(hashes.nonEmpty)
    val mem = MemoryStream[StreamDoc]
    val out = CurationStream.curate(
      mem.toDF().withWatermark("ts", "10 minutes"), hashes, minTokens = 4, n = 8)
    val q = out.writeStream.format("memory").queryName("cur_out")
      .outputMode("append").start()
    try {
      mem.addData(
        StreamDoc(1, "too short", ts(0)), // fails the quality gate
        StreamDoc(2, "prefix words alpha beta gamma delta epsilon zeta eta theta", ts(1)), // contaminated
        StreamDoc(3, "a perfectly clean document with enough tokens", ts(2)),
        StreamDoc(4, "a perfectly clean document with enough tokens", ts(3)), // dup of 3
        StreamDoc(5, "another clean and unique document entirely", ts(4)))
      q.processAllAvailable()
      val ids = spark.table("cur_out").collect().map(_.getAs[Long]("doc_id")).sorted
      assert(ids.toSeq == Seq(3L, 5L),
        s"expected quality+decontam+dedup survivors (3, 5); got ${ids.toSeq}")
      // all input columns pass through
      assert(spark.table("cur_out").columns.sorted.toSeq == Seq("doc_id", "n_tok", "text", "ts"))
    } finally q.stop()
  }

  test("streaming curation: bloom decontamination path matches the exact path") {
    import graft.streaming.CurationStream
    val benchmark = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // size switch: the small suite stays exact; forcing the switch to zero
    // exercises the distributed bloom build end-to-end
    val exact = CurationStream.benchmarkGrams(benchmark, "text")
    assert(exact.isInstanceOf[CurationStream.ExactGrams], "small suite stays exact")
    val bloom = CurationStream.benchmarkGrams(benchmark, "text", maxExactGrams = 0L)
    val bg = bloom match {
      case b: CurationStream.BloomGrams => b
      case other => fail(s"forced switch must build the bloom form; got $other")
    }
    assert(bg.nGrams > 0 && bg.bytes.nonEmpty)
    // no false negatives: every benchmark gram hash probes true (batch path —
    // the same codegen'd expression the stream uses)
    val hashes = CurationStream.benchmarkHashes(benchmark, "text")
    val hits = hashes.toDF("h")
      .select(graft.functions.BloomExprs.containsAny(lit(bg.bytes), array($"h")))
      .as[Boolean].collect()
    assert(hashes.nonEmpty && hits.forall(identity),
      "a bloom filter must never miss an inserted gram")

    def run(bench: CurationStream.BenchGrams, qname: String): Seq[Long] = {
      val mem = MemoryStream[StreamDoc]
      val out = CurationStream.curate(
        mem.toDF().withWatermark("ts", "10 minutes"), bench, minTokens = 4)
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        mem.addData(
          StreamDoc(1, "too short", ts(0)),
          StreamDoc(2, "prefix words alpha beta gamma delta epsilon zeta eta theta", ts(1)),
          StreamDoc(3, "a perfectly clean document with enough tokens", ts(2)),
          StreamDoc(4, "a perfectly clean document with enough tokens", ts(3)),
          StreamDoc(5, "another clean and unique document entirely", ts(4)))
        q.processAllAvailable()
        spark.table(qname).collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
      } finally q.stop()
    }
    assert(run(exact, "cur_exact") == Seq(3L, 5L))
    assert(run(bloom, "cur_bloom") == Seq(3L, 5L),
      "bloom path must drop/keep exactly the exact path's documents here " +
        "(false-positive probability at fpp=1e-6 is negligible for this corpus)")
  }

  test("transformWithState sessionizer matches the flatMapGroupsWithState twin") {
    import graft.streaming.TwsSessions
    import graft.streaming.StatefulSessions.UserEvent
    // TWS runs only on the RocksDB provider — apply the session knobs
    val knobs = GraftSession.rocksDbStateConfs()
    val prev = knobs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val mem = MemoryStream[UserEvent]
      val sessions = TwsSessions.sessionize(
        mem.toDS().withWatermark("ts", "10 minutes").as[UserEvent],
        gapSeconds = 300)
      val q = sessions.writeStream.format("memory").queryName("tws_out")
        .outputMode("append").start()
      try {
        // identical script to the FMGWS test: user 1 gap-closes mid-stream,
        // then the advancing watermark timer-closes the 00:30 session
        mem.addData(
          UserEvent(1, ts(0), 1.0), UserEvent(1, ts(2), 2.0),
          UserEvent(1, ts(4), 3.0), UserEvent(1, ts(30), 4.0))
        q.processAllAvailable()
        mem.addData(UserEvent(2, ts(120), 0.5))
        q.processAllAvailable()
        mem.addData(UserEvent(2, ts(125), 0.5))
        q.processAllAvailable()
        val rows = awaitRows("tws_out",
          _.count(_.getAs[Long]("user_id") == 1L) == 2)
        val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
          .map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("sess_value"))).sortBy(_._1)
        assert(u1 == Seq((1L, 4.0), (3L, 6.0)),
          s"expected the same sessions the FMGWS twin emits; got $u1")
      } finally q.stop()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("transformWithState warm-starts from a batch table of open sessions") {
    import graft.streaming.TwsSessions
    import graft.streaming.StatefulSessions.UserEvent
    val knobs = GraftSession.rocksDbStateConfs()
    val prev = knobs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // user 7 has an open session carried over: started 00:00, last 00:02,
      // 2 events, value 5.0
      val initial = Seq(TwsSessions.InitSession(7L,
        ts(0).getTime * 1000L, ts(2).getTime * 1000L, 2L, 5.0)).toDS()
      val mem = MemoryStream[UserEvent]
      val sessions = TwsSessions.sessionizeWithInitial(
        mem.toDS().withWatermark("ts", "10 minutes").as[UserEvent],
        gapSeconds = 300, initial)
      val q = sessions.writeStream.format("memory").queryName("twsi_out")
        .outputMode("append").start()
      try {
        // an event at 00:04 EXTENDS the carried session (gap not exceeded);
        // a later event far past the gap closes it: 3 events, 5.0 + 2.0
        mem.addData(UserEvent(7, ts(4), 2.0))
        q.processAllAvailable()
        mem.addData(UserEvent(7, ts(60), 1.0))
        q.processAllAvailable()
        val rows = awaitRows("twsi_out", _.nonEmpty)
        val first = rows.map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("session_start"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sess_value")))
        assert(first.contains((7L, ts(0), 3L, 7.0)),
          s"carried-over session must extend then close; got $first")
      } finally q.stop()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("TTL'd transformWithState dedup: suppress within TTL, re-emit after expiry") {
    import graft.streaming.TwsDedup
    // processing-time TWS: RocksDB provider + no-data micro-batches OFF
    // (with the default the query loops empty batches forever — the round-3
    // hang, reproduced and isolated in graft.scratch.TtlRepro)
    val knobs = GraftSession.rocksDbStateConfs() +
      ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val prev = knobs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // SUPPRESSION under a TTL far beyond the test's runtime: an ambient
      // stall between batches can no longer expire the key early (the old
      // 10s-TTL + 11s-sleep form was wall-clock flaky and cost 11s per run)
      val mem = MemoryStream[StreamEvt]
      val out = TwsDedup.dedupWithTtl[StreamEvt](mem.toDS(),
        e => e.event_id.toString, java.time.Duration.ofMinutes(10))
      val q = out.writeStream.format("memory").queryName("ttl_sup")
        .outputMode("append").start()
      try {
        // batch 1: two copies of key 1 in one batch -> one emit; key 2 emits
        mem.addData(StreamEvt(1, 1, "click", ts(1)), StreamEvt(1, 1, "click", ts(2)),
          StreamEvt(2, 2, "view", ts(3)))
        q.processAllAvailable()
        // batch 2, inside the TTL: key 1 suppressed by state
        mem.addData(StreamEvt(1, 1, "click", ts(4)))
        q.processAllAvailable()
        assert(spark.table("ttl_sup").collect()
          .map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(1L, 2L))
      } finally q.stop()
      // EXPIRY in its own short-TTL query: the assert only needs ENOUGH time
      // to have passed, so stalls push in the safe direction (more expired)
      val mem2 = MemoryStream[StreamEvt]
      val out2 = TwsDedup.dedupWithTtl[StreamEvt](mem2.toDS(),
        e => e.event_id.toString, java.time.Duration.ofSeconds(1))
      val q2 = out2.writeStream.format("memory").queryName("ttl_exp")
        .outputMode("append").start()
      try {
        mem2.addData(StreamEvt(1, 1, "click", ts(1)))
        q2.processAllAvailable()
        Thread.sleep(1500) // > the 1s TTL; lateness only helps
        mem2.addData(StreamEvt(1, 3, "click", ts(5)))
        q2.processAllAvailable()
        val again = spark.table("ttl_exp").collect()
          .map(_.getAs[Long]("event_id")).sorted.toSeq
        assert(again == Seq(1L, 1L),
          s"key 1 must re-emit after its state TTL expires; got $again")
      } finally q2.stop()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("event-time TTL dedup: suppression and expiry driven by the watermark, not the wall clock") {
    import graft.streaming.TwsDedup
    // event-time TWS: RocksDB provider only — NO noDataMicroBatches knob is
    // required (the processing-time loop repro does not apply here)
    val knobs = GraftSession.rocksDbStateConfs()
    val prev = knobs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val mem = MemoryStream[StreamEvt]
      val out = TwsDedup.dedupWithTtlEventTime[StreamEvt](
        mem.toDS().withWatermark("ts", "1 second").as[StreamEvt],
        e => e.event_id.toString, e => e.ts, java.time.Duration.ofMinutes(1))
      val q = out.writeStream.format("memory").queryName("ttl_evt")
        .outputMode("append").start()
      try {
        def ids() = spark.table("ttl_evt").collect()
          .map(_.getAs[Long]("event_id")).sorted.toSeq
        // first sight at 00:00 emits once (in-batch duplicate suppressed);
        // expiry timer armed at 00:01 event time
        mem.addData(StreamEvt(1, 1, "click", ts(0)), StreamEvt(1, 1, "click", ts(0)))
        q.processAllAvailable()
        // a duplicate inside the event-time TTL is suppressed
        mem.addData(StreamEvt(1, 2, "click", ts(0, 30)))
        q.processAllAvailable()
        assert(ids() == Seq(1L), s"inside the TTL key 1 must stay suppressed; got ${ids()}")
        // advance the WATERMARK past 00:01 with another key (two batches: the
        // watermark used by batch N is computed from data through N-1); the
        // fired timer clears key 1's state
        mem.addData(StreamEvt(9, 9, "view", ts(10)))
        q.processAllAvailable()
        mem.addData(StreamEvt(9, 9, "view", ts(11)))
        q.processAllAvailable()
        // key 1 re-emits after its event-time TTL expired — no sleeps anywhere
        mem.addData(StreamEvt(1, 3, "click", ts(12)))
        q.processAllAvailable()
        assert(ids() == Seq(1L, 1L, 9L),
          s"key 1 must re-emit once its event-time TTL passed the watermark; got ${ids()}")
      } finally q.stop()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("event-time TTL dedup: deterministic first-seen (min event time) and the late-data contract") {
    import graft.streaming.TwsDedup
    val knobs = GraftSession.rocksDbStateConfs()
    val prev = knobs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val mem = MemoryStream[StreamEvt]
      val out = TwsDedup.dedupWithTtlEventTime[StreamEvt](
        mem.toDS().withWatermark("ts", "1 second").as[StreamEvt],
        e => e.event_id.toString, e => e.ts, java.time.Duration.ofMinutes(1))
      val q = out.writeStream.format("memory").queryName("ttl_late")
        .outputMode("append").start()
      try {
        def rows() = spark.table("ttl_late").collect()
          .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id")))
          .sorted.toSeq
        // DETERMINISTIC FIRST-SEEN: one batch carries key 1 with two distinct
        // event times, the later one listed first — the emitted row must be
        // the MIN-event-time one (user_id 10 at 00:01), regardless of the
        // batch iterator's order, and expiry anchors at 00:01 + 1min
        mem.addData(StreamEvt(1, 20, "click", ts(2)), StreamEvt(1, 10, "click", ts(1)))
        q.processAllAvailable()
        assert(rows() == Seq((1L, 10L)),
          s"the min-event-time row must emit; got ${rows()}")
        // advance the watermark past key 1's expiry (00:02) -> timer fires,
        // state clears (two batches: batch N uses data-through-N-1's watermark)
        mem.addData(StreamEvt(9, 9, "view", ts(10)))
        q.processAllAvailable()
        mem.addData(StreamEvt(9, 9, "view", ts(11)))
        q.processAllAvailable()
        // LATE-DATA CONTRACT: key 1 returns with an event time OLDER than the
        // current watermark (~00:10). The watermark filter drops it BEFORE
        // the processor — no re-emit, no state. This is the right default: a
        // below-watermark replay is by definition a duplicate the upstream
        // already delivered, and admitting it would re-arm a timer the
        // watermark has already passed (an expiry that could never fire).
        mem.addData(StreamEvt(1, 30, "click", ts(3)))
        q.processAllAvailable()
        assert(rows() == Seq((1L, 10L), (9L, 9L)),
          s"a below-watermark arrival after expiry must be dropped; got ${rows()}")
        // an IN-HORIZON arrival after expiry re-emits (the at-least-once
        // downstream contract: expired keys may deliver again)
        mem.addData(StreamEvt(1, 40, "click", ts(12)))
        q.processAllAvailable()
        assert(rows() == Seq((1L, 10L), (1L, 40L), (9L, 9L)),
          s"an in-horizon arrival after expiry must re-emit; got ${rows()}")
      } finally q.stop()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("streaming keep-best dedup: the window buffers, the watermark flushes the winner") {
    import graft.streaming.TwsDedup
    val knobs = GraftSession.rocksDbStateConfs()
    val prev = knobs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val mem = MemoryStream[StreamEvt]
      // key = event_id; score = user_id (the quality stand-in); tie = user_id
      val out = TwsDedup.keepBestWithTtlEventTime[StreamEvt](
        mem.toDS().withWatermark("ts", "1 second").as[StreamEvt],
        e => e.event_id.toString, e => e.ts, e => e.user_id.toDouble,
        e => e.user_id.toString, java.time.Duration.ofMinutes(1))
      val q = out.writeStream.format("memory").queryName("keepbest")
        .outputMode("append").start()
      try {
        def rows() = spark.table("keepbest").collect()
          .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id")))
          .sorted.toSeq
        // one batch, two duplicates of key 1 (scores 10 and 30, better one
        // listed FIRST so min-event-time anchoring is also exercised):
        // NOTHING may emit while the window can still change
        mem.addData(StreamEvt(1, 30, "click", ts(1, 10)), StreamEvt(1, 10, "click", ts(1)))
        q.processAllAvailable()
        assert(rows() == Seq(), s"keep-best must buffer, not emit; got ${rows()}")
        // a better duplicate arrives inside the window (and above the
        // watermark, 00:00:09) -> replaces the buffer
        mem.addData(StreamEvt(1, 50, "click", ts(1, 30)))
        q.processAllAvailable()
        assert(rows() == Seq(), s"still inside the window; got ${rows()}")
        // advance the watermark past firstSeen (00:01) + 1 min -> the timer
        // flushes exactly ONE row: the best-scoring duplicate
        mem.addData(StreamEvt(9, 9, "view", ts(10)))
        q.processAllAvailable()
        mem.addData(StreamEvt(9, 9, "view", ts(11)))
        q.processAllAvailable()
        assert(rows() == Seq((1L, 50L)),
          s"the watermark must flush the best duplicate once; got ${rows()}")
        // a post-expiry arrival opens a NEW window and flushes independently
        // once the watermark passes ITS expiry (key 9's first window flushes
        // along the way; key 9's second window stays open past the test)
        mem.addData(StreamEvt(1, 40, "click", ts(12)))
        q.processAllAvailable()
        mem.addData(StreamEvt(9, 9, "view", ts(20)))
        q.processAllAvailable()
        mem.addData(StreamEvt(9, 9, "view", ts(21)))
        q.processAllAvailable()
        assert(rows() == Seq((1L, 40L), (1L, 50L), (9L, 9L)),
          s"a fresh window must flush its own winner; got ${rows()}")
      } finally q.stop()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("incremental near-dup dedup: the signature index drops later arrivals across batches") {
    import graft.streaming.CurationStream
    val dir = Files.createTempDirectory("neardup_idx").toString
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten"
    val keptPerBatch = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Long]]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val kept = CurationStream.nearDedupBatch(dir, "doc_id", "text")(b, id)
        keptPerBatch.put(id,
          kept.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq)
        ()
      }
      .start()
    try {
      // batch 0: in-batch duplicate of tA collapses greedily (smallest id)
      mem.addData((1L, tA), (2L, tA))
      q.processAllAvailable()
      // batch 1: tA returns -> dropped by the index; tB is new -> kept
      mem.addData((3L, tA), (4L, tB))
      q.processAllAvailable()
      // batch 2: tB returns -> dropped by batch 1's index partition
      mem.addData((5L, tB))
      q.processAllAvailable()
      assert(keptPerBatch.get(0L) == Seq(1L), s"batch 0: ${keptPerBatch.get(0L)}")
      assert(keptPerBatch.get(1L) == Seq(4L), s"batch 1: ${keptPerBatch.get(1L)}")
      assert(keptPerBatch.get(2L) == Seq(), s"batch 2: ${keptPerBatch.get(2L)}")
    } finally q.stop()
    // micro-batch REPLAY idempotency: re-running batch 1 against the index
    // (its own partition now exists and must be invisible to itself) yields
    // the same survivors and rewrites, not duplicates, its postings
    val replay = Seq((3L, tA), (4L, tB)).toDF("doc_id", "text")
    val again = CurationStream.nearDedupBatch(dir, "doc_id", "text")(replay, 1L)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(again == Seq(4L), s"replayed batch 1 must keep the same rows: $again")
    val idxRows = spark.read.parquet(s"$dir/batch=1").count()
    assert(idxRows == 4L, s"batch 1's index partition must hold ONE doc's 4 band rows: $idxRows")
  }

  test("one store, both paths: the streaming index serves the batch drop operator bit-exactly") {
    import graft.streaming.CurationStream
    import graft.ext.{Dedup, DedupOps}
    // round-15 NEXT #4: ingest the documents slice in ONE micro-batch; the
    // index must then be a valid posting table for the batch serving path
    val dir = Files.createTempDirectory("neardup_onestore").toString
    val all = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val docsA = all.filter(col("doc_id") < 300)
    val docsB = all.filter(col("doc_id") >= 300)
    val streamedKeptA = CurationStream.nearDedupBatch(dir, "doc_id", "text")(docsA, 0L)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    val posts = CurationStream.indexPostings(spark, dir).get
    // (1) relation equality: the index IS the batch posting table restricted
    // to the streamed survivors — bit-exact (postings are integers/strings
    // of integers); single batch, so stream ≡ batch d02 keep exactly
    val batchKeptA = DedupOps.dropNearDuplicatesMinhash(docsA, "doc_id", "text")
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(streamedKeptA == batchKeptA,
      "single-batch streamed survivors must equal the batch greedy keep")
    val idxRows = posts.as[(Long, Int, String)].collect().toSet
    val batchSurvivorPosts = DedupOps.bandPostings(docsA, "doc_id", "text",
        bands = 4, rowsPerBand = 4, shingleLen = 3)
      .join(streamedKeptA.toDF("__k"), col("__id") === col("__k"), "left_semi")
      .as[(Long, Int, String)].collect().toSet
    assert(idxRows == batchSurvivorPosts,
      s"index relation must equal batch survivor postings " +
        s"(${idxRows.size} vs ${batchSurvivorPosts.size} rows)")
    // (2) one store, both paths: the BATCH cross-corpus operator (the d09
    // serving shape) probing the stream's index as its reference postings
    // must compute exactly the cross-batch drop the STREAM applies to the
    // next micro-batch (composed after the same in-batch dedup)
    val streamedKeptB = CurationStream.nearDedupBatch(dir, "doc_id", "text")(docsB, 1L)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    val inBatchB = DedupOps.dropNearDuplicatesMinhash(docsB, "doc_id", "text")
    val servedKeptB = DedupOps.dropNearDuplicatesAgainstFromPostings(
        inBatchB,
        DedupOps.bandPostings(inBatchB, "doc_id", "text", 4, 4, 3),
        posts, "doc_id")
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(servedKeptB == streamedKeptB,
      "the batch cross-corpus drop served from the streaming index must " +
        s"return the streamed batch-1 survivors (served ${servedKeptB.size}, " +
        s"streamed ${streamedKeptB.size})")
    // non-vacuous: batch 1 really lost docs to the index probe
    assert(servedKeptB.size < inBatchB.count(),
      "witness must exercise the cross-batch drop")
  }

  test("near-dup index compaction merges partitions and preserves drop behavior") {
    import graft.streaming.CurationStream
    val dir = Files.createTempDirectory("neardup_cpt").toString
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten"
    val tC = "red orange yellow green blue indigo violet black white gray"
    def run(id: Long, rows: (Long, String)*): Seq[Long] =
      CurationStream.nearDedupBatch(dir, "doc_id", "text")(
        rows.toSeq.toDF("doc_id", "text"), id)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(run(0L, (1L, tA)) == Seq(1L))
    assert(run(1L, (2L, tB)) == Seq(2L))
    // both micro-batches committed -> safe to compact everything below 2
    CurationStream.compactIndex(spark, dir, uptoBatchId = 2L)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("batch=")).sorted.toSeq
    assert(dirs == Seq("batch=1"), s"expected one merged partition: $dirs")
    // the merged index still drops both earlier texts; new text survives
    assert(run(2L, (3L, tA), (4L, tB), (5L, tC)) == Seq(5L))
  }

  test("compaction is crash-safe: every injected crash window heals without posting loss") {
    import graft.streaming.CurationStream
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten"
    val tC = "red orange yellow green blue indigo violet black white gray"
    for (step <- Seq("merged", "aside", "committed")) {
      val dir = Files.createTempDirectory(s"neardup_crash_$step").toString
      def run(id: Long, rows: (Long, String)*): Seq[Long] =
        CurationStream.nearDedupBatch(dir, "doc_id", "text")(
          rows.toSeq.toDF("doc_id", "text"), id)
          .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      assert(run(0L, (1L, tA)) == Seq(1L))
      assert(run(1L, (2L, tB)) == Seq(2L))
      val boom = intercept[RuntimeException] {
        CurationStream.compactIndex(spark, dir, uptoBatchId = 2L,
          onStep = s => if (s == step) throw new RuntimeException(s"crash at $s"))
      }
      assert(boom.getMessage == s"crash at $step")
      // the next reader heals the interrupted state in-line; no posting was
      // lost — both earlier texts still drop, new text survives
      assert(run(2L, (3L, tA), (4L, tB), (5L, tC)) == Seq(5L),
        s"crash window '$step' lost postings")
      // a subsequent compaction completes and leaves no recovery residue
      CurationStream.compactIndex(spark, dir, uptoBatchId = 3L)
      val residue = new java.io.File(dir).listFiles().map(_.getName)
        .filter(n => n.startsWith(".old-") || n.startsWith(".compact-")).toSeq
      assert(residue.isEmpty, s"crash window '$step' left $residue")
      assert(run(3L, (6L, tA), (7L, tB), (8L, tC)) == Seq(),
        s"post-compaction index after crash window '$step' must drop all three")
    }
  }

  test("cross-process fencing: a concurrent batch write aborts the compactor in every window, losslessly") {
    import graft.streaming.CurationStream
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten"
    val tC = "red orange yellow green blue indigo violet black white gray"
    val tD = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    for (step <- Seq("merged", "aside", "committed")) {
      val dir = Files.createTempDirectory(s"neardup_fence_$step").toString
      def run(id: Long, rows: (Long, String)*): Seq[Long] =
        CurationStream.nearDedupBatch(dir, "doc_id", "text")(
          rows.toSeq.toDF("doc_id", "text"), id)
          .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      assert(run(0L, (1L, tA)) == Seq(1L))
      assert(run(1L, (2L, tB)) == Seq(2L))
      assert(run(2L, (3L, tC)) == Seq(3L))
      // the "second process": same filesystem directory, different JVM lock
      // key (trailing slash), so this compactor does NOT serialize with the
      // writer — only the on-disk epoch fence stands between them
      var fencedSeen = false
      val ok = CurationStream.compactIndex(spark, dir + "/", uptoBatchId = 3L,
        onStep = {
          case `step` =>
            // a batch commits in the writer's process mid-compaction,
            // bumping the epoch (and healing whatever state it finds)
            assert(run(3L, (4L, tD)) == Seq(4L))
          case "fenced" => fencedSeen = true
          case _ => ()
        })
      assert(!ok && fencedSeen,
        s"window '$step': compactor must abort fenced, got ok=$ok fenced=$fencedSeen")
      // NO posting lost: every text written before or during the race drops
      assert(run(4L, (5L, tA), (6L, tB), (7L, tC), (8L, tD)) == Seq(),
        s"window '$step' lost postings")
      // an uncontended compaction then completes and leaves no residue
      assert(CurationStream.compactIndex(spark, dir, uptoBatchId = 4L),
        s"window '$step': quiet compaction should complete")
      val residue = new java.io.File(dir).listFiles().map(_.getName)
        .filter(n => n.startsWith(".old-") || n.startsWith(".compact-")).toSeq
      assert(residue.isEmpty, s"window '$step' left $residue")
      assert(run(5L, (9L, tA), (10L, tB), (11L, tC), (12L, tD)) == Seq(),
        s"window '$step': compacted index must still drop all four")
    }
  }

  test("a lagging compactor delete cannot clobber a fresh batch partition (write verify)") {
    import graft.streaming.CurationStream
    val dir = Files.createTempDirectory("neardup_verify").toString
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tC = "red orange yellow green blue indigo violet black white gray"
    assert(CurationStream.nearDedupBatch(dir, "doc_id", "text")(
      Seq((1L, tA)).toDF("doc_id", "text"), 0L).count() == 1L)
    // a fenced compactor can have exactly ONE in-flight delete land after
    // the writer's epoch bump (the check-then-act window) — inject it on
    // the first write attempt; the verify loop must detect and re-write
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    var injected = false
    val kept = CurationStream.nearDedupBatch(dir, "doc_id", "text",
      onWrite = () => if (!injected) {
        injected = true
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batch=1"), true)
      })(Seq((2L, tC)).toDF("doc_id", "text"), 1L)
    assert(kept.select(col("doc_id")).collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batch=1/_SUCCESS")),
      "the clobbered partition must be re-written")
    // and the re-written postings are live: tC drops in the next batch
    assert(CurationStream.nearDedupBatch(dir, "doc_id", "text")(
      Seq((3L, tC)).toDF("doc_id", "text"), 2L).count() == 0L)
  }

  test("a replay that yields zero survivors deletes its stale index partition") {
    import graft.streaming.CurationStream
    val dir = Files.createTempDirectory("neardup_stale").toString
    val tB = "one two three four five six seven eight nine ten"
    def run(id: Long, rows: (Long, String)*): Seq[Long] =
      CurationStream.nearDedupBatch(dir, "doc_id", "text")(
        rows.toSeq.toDF("doc_id", "text"), id)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    // attempt A of batch 1 keeps its doc and writes postings
    assert(run(1L, (4L, tB)) == Seq(4L))
    assert(new java.io.File(s"$dir/batch=1").isDirectory)
    // the VISIBLE index changes between attempts (the scenario the
    // idempotency contract must survive): batch 0 now also carries tB
    assert(run(0L, (1L, tB)) == Seq(1L))
    // the replay of batch 1 now loses everything to batch 0 — zero
    // survivors must REMOVE attempt A's partition, not merely skip the
    // write, or the dead postings would keep droppings docs forever
    assert(run(1L, (4L, tB)) == Seq())
    assert(!new java.io.File(s"$dir/batch=1").exists(),
      "stale partition from the earlier attempt must be deleted")
  }

  test("the cross-batch probe prunes the index scan: pushed In filter + row-group skipping") {
    import graft.streaming.CurationStream
    val dir = Files.createTempDirectory("neardup_prune").toString
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hconf.get("parquet.block.size"))
    // small parquet row groups so the sorted index yields many of them —
    // the unit under test is the (band,bsig)-sorted LAYOUT enabling
    // stats-based group skipping, which one giant row group would mask
    hconf.set("parquet.block.size", "4096")
    try {
      val docs0 = (0 until 2000).map(i =>
        (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"))
        .toDF("doc_id", "text")
      CurationStream.nearDedupBatch(dir, "doc_id", "text")(docs0, 0L)
      val idxRows = spark.read.parquet(s"$dir/batch=0").count()
      assert(idxRows == 2000L * 4, s"expected 8000 postings, got $idxRows")
      // capture the executions of the batch-1 probe to inspect its scan
      val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          captured.add(qe.executedPlan.toString)
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val kept =
        try {
          val docs1 = Seq(
            (9000L, "alpha5 beta5 gamma5 delta5 epsilon5 zeta5 eta5"), // dup of doc 5
            (9001L, "wholly novel content with no earlier twin at all"))
            .toDF("doc_id", "text")
          CurationStream.nearDedupBatch(dir, "doc_id", "text")(docs1, 1L)
            .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
        } finally {
          // listener delivery is async — poll for the probe plan, then drop
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (!captured.toArray(Array.empty[String])
              .exists(p => p.contains("batch=0") && p.contains("In(bsig")) &&
              System.nanoTime() < deadline) Thread.sleep(100)
          spark.listenerManager.unregister(listener)
        }
      assert(kept == Seq(9001L), s"cross-batch drop must still hold: $kept")
      val plans = captured.toArray(Array.empty[String])
      assert(plans.exists(p => p.contains("batch=0") && p.contains("In(bsig")),
        "the index scan must carry a pushed In(bsig, ...) filter")
      // mechanism check on the operator-written layout: probing the index
      // with a handful of signatures must SKIP most row groups (the sorted
      // write is what makes the min/max stats selective)
      val sigs = graft.ext.DedupOps.bandPostings(
        Seq((9000L, "alpha5 beta5 gamma5 delta5 epsilon5 zeta5 eta5"))
          .toDF("doc_id", "text"),
        "doc_id", "text", 4, 4, 3)
        .select(col("bsig")).distinct().collect().map(_.getString(0)).toSeq
      val thrKey = "spark.sql.parquet.pushdown.inFilterThreshold"
      val thrOld = spark.conf.getOption(thrKey)
      spark.conf.set(thrKey, "100001")
      try {
        val probe = spark.read.parquet(s"$dir/batch=0")
          .filter(col("bsig").isInCollection(sigs))
        probe.collect()
        val scanRows = probe.queryExecution.executedPlan.collectLeaves()
          .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
        assert(scanRows > 0 && scanRows < idxRows / 2,
          s"sorted index must prune row groups: scan emitted $scanRows of $idxRows")
      } finally thrOld match {
        case Some(v) => spark.conf.set(thrKey, v)
        case None => spark.conf.unset(thrKey)
      }
    } finally oldBlock match {
      case Some(v) => hconf.set("parquet.block.size", v)
      case None => hconf.unset("parquet.block.size")
    }
  }

  test("a wide probe splits into bounded In chunks: no stack overflow, drops exact") {
    import graft.streaming.CurationStream
    // >256 distinct signatures force the chunked-union probe path (a single
    // pushed In of thousands of values overflows the task stack — the sf0.1
    // bench found this); survivors must still be exactly the novel docs
    val dir = Files.createTempDirectory("neardup_wide").toString
    def text(i: Int) = s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"
    val docs0 = (0 until 600).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    CurationStream.nearDedupBatch(dir, "doc_id", "text")(docs0, 0L)
    // batch 1: 300 dups of batch 0 + 100 new -> 400 docs, 1600 band sigs
    val docs1 = ((0 until 300).map(i => (10000L + i, text(i))) ++
      (0 until 100).map(i => (20000L + i, s"novel$i fresh$i unseen$i wholly$i distinct$i new$i words$i")))
      .toDF("doc_id", "text")
    val kept = CurationStream.nearDedupBatch(dir, "doc_id", "text")(docs1, 1L)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == (0 until 100).map(20000L + _).toSeq,
      s"all 300 index collisions must drop, all 100 novel docs survive: ${kept.length} kept")
  }

  test("end-to-end: curate feeds the incremental near-dup index in one streaming graph") {
    import graft.streaming.CurationStream
    // the full production composition — quality gate + decontamination +
    // watermarked exact dedup (stateful) draining into the foreachBatch
    // near-dup stage — run as ONE streaming query: the stateful-operator →
    // foreachBatch boundary is exactly where Spark's restrictions on
    // stateful chaining would bite if the shape were wrong
    val dir = Files.createTempDirectory("curate_neardup").toString
    val benchmark = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val bench = CurationStream.benchmarkGrams(benchmark, "text", n = 8)
    val tGood = "splendid unique prose spanning ten whole tokens easily counted here"
    val tNear = tGood + " omega" // near-dup of tGood: same shingles + one
    val tOther = "entirely different words compose this second legitimate document body"
    // (batchId -> (curated rows fed to the near-dup stage, survivor ids))
    val seen = new java.util.concurrent.ConcurrentHashMap[
      Long, (Seq[(Long, String)], Seq[Long])]()
    val mem = MemoryStream[StreamDoc]
    val curated = CurationStream.curate(
      mem.toDF().withWatermark("ts", "10 minutes"), bench, minTokens = 4, n = 8)
    val q = curated.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val kept = CurationStream.nearDedupBatch(dir, "doc_id", "text")(b, id)
        seen.put(id, (
          b.select(col("doc_id"), col("text")).collect()
            .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq,
          kept.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq))
        ()
      }
      .start()
    try {
      // batch 0 exercises every curation stage before the near-dup index:
      // 1 too short, 2 contaminated, 3/4 exact dups, 5+6 clean and distinct
      mem.addData(
        StreamDoc(1, "too short", ts(0)),
        StreamDoc(2, "prefix words alpha beta gamma delta epsilon zeta eta theta", ts(1)),
        StreamDoc(3, tGood, ts(2)),
        StreamDoc(4, tGood, ts(3)),
        StreamDoc(5, tOther, ts(4)))
      q.processAllAvailable()
      // batch 1: a NEAR duplicate of doc 3 — it passes the exact-digest
      // dedup (different md5) and must fall to the cross-batch signature
      // index; doc 7 is new and survives
      mem.addData(
        StreamDoc(6, tNear, ts(5)),
        StreamDoc(7, "completely fresh material closing out the composition test", ts(6)))
      q.processAllAvailable()
      ()
    } finally q.stop()
    // locate the two data-carrying micro-batches by content — watermark
    // bookkeeping can interleave no-data batches, shifting the raw batch ids
    import scala.jdk.CollectionConverters._
    val dataBatches = seen.asScala.toSeq.filter(_._2._1.nonEmpty).sortBy(_._1)
    assert(dataBatches.length == 2, s"expected two data batches: $seen")
    val (id0, (in0, kept0)) = dataBatches(0)
    val (id1, (in1, kept1)) = dataBatches(1)
    assert(in0.map(_._1) == Seq(3L, 5L),
      s"curate must pass only 3 and 5 to the near-dup stage: $in0")
    assert(kept0 == Seq(3L, 5L))
    assert(in1.map(_._1) == Seq(6L, 7L),
      s"the near-dup must reach the index stage: $in1")
    assert(kept1 == Seq(7L),
      s"doc 6 must be dropped by the earlier batch's signature index: $kept1")
    // micro-batch REPLAY idempotency across the whole composition: re-running
    // the near-dup stage with the second batch's exact curated input yields
    // the same survivors and rewrites (not duplicates) its index partition
    val again = CurationStream.nearDedupBatch(dir, "doc_id", "text")(
      in1.toDF("doc_id", "text"), id1)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(again == Seq(7L), s"replayed batch $id1 must keep the same rows: $again")
    val idxDocs = spark.read.parquet(s"$dir/batch=$id1")
      .select(col("__id")).distinct().collect().map(_.getLong(0)).toSeq
    assert(idxDocs == Seq(7L),
      s"the replayed partition must hold exactly its surviving doc's postings: $idxDocs")
  }

  test("incremental KL drift: streamed count partitions reproduce the batch c14 bit-exactly") {
    import graft.streaming.CurationStream
    import graft.ext.CurationOps
    val dir = Files.createTempDirectory("kl_counts").toString
    val b0 = Seq((1L, "a a b", "A"), (2L, "b c", "B")).toDF("doc_id", "text", "source")
    val b1 = Seq((3L, "a c c d", "A"), (4L, "b b", "B")).toDF("doc_id", "text", "source")
    CurationStream.tokenCountsBatch(dir, "text", "source")(b0, 0L)
    CurationStream.tokenCountsBatch(dir, "text", "source")(b1, 1L)
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.select(col("source"), col("n_tokens"), col("vocab"), col("kl_corpus"))
        .as[(String, Long, Long, Double)].collect()
        .map { case (s, n, v, k) =>
          (s, n, v, java.lang.Double.doubleToRawLongBits(k))
        }.sortBy(_._1).toSeq
    val streamed = bits(CurationStream.klDriftReport(spark, dir, "source"))
    val batch = bits(CurationOps.klDrift(b0.union(b1), "text", "source"))
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // replay idempotency: re-running batch 1 overwrites its own partition —
    // the report must not double-count
    CurationStream.tokenCountsBatch(dir, "text", "source")(b1, 1L)
    assert(bits(CurationStream.klDriftReport(spark, dir, "source")) == batch)
    // an empty replayed batch deletes its partition instead of corrupting it
    CurationStream.tokenCountsBatch(dir, "text", "source")(
      b1.filter(lit(false)), 1L)
    val afterEmpty = bits(CurationStream.klDriftReport(spark, dir, "source"))
    assert(afterEmpty == bits(CurationOps.klDrift(b0, "text", "source")))
    // no state at all -> empty report, not a crash
    val none = CurationStream.klDriftReport(spark,
      Files.createTempDirectory("kl_empty").toString, "source")
    assert(none.count() == 0)
  }

  test("streaming top-component fit: batch partitions reproduce the batch s30 fit bit-exactly") {
    import graft.streaming.CurationStream
    import graft.ext.Similarity
    val dir = Files.createTempDirectory("tc_sample").toString
    def vec(i: Int): Seq[Float] =
      (0 until 8).map(d => ((i * 31 + d * 7) % 11 - 5).toFloat / 3f)
    val b0 = (0 until 12).map(i => (i.toLong, vec(i))).toDF("vec_id", "v")
    // batch 1 includes rows ABOVE sampleMax that must not enter the state
    val b1 = ((12 until 24) ++ Seq(900, 901)).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "v")
    CurationStream.topComponentBatch(dir, "vec_id", "v", sampleMax = 256L)(b0, 0L)
    CurationStream.topComponentBatch(dir, "vec_id", "v", sampleMax = 256L)(b1, 1L)
    def bits(fit: (Array[Double], Array[Double])): (Seq[Long], Seq[Long]) =
      (fit._1.toSeq.map(java.lang.Double.doubleToRawLongBits),
        fit._2.toSeq.map(java.lang.Double.doubleToRawLongBits))
    val streamed = bits(CurationStream.topComponentReport(
      spark, dir, "vec_id", "v").get)
    val batch = bits(Similarity.topComponentFit(
      b0.union(b1).filter(col("vec_id") < 256L), "vec_id", "v"))
    assert(streamed == batch,
      "streamed fit must equal the batch fit over the micro-batch union, " +
        "raw IEEE bits included")
    // replay idempotency: re-running batch 1 overwrites its own partition
    CurationStream.topComponentBatch(dir, "vec_id", "v")(b1, 1L)
    assert(bits(CurationStream.topComponentReport(
      spark, dir, "vec_id", "v").get) == batch)
    // an empty replayed batch deletes its partition
    CurationStream.topComponentBatch(dir, "vec_id", "v")(
      b1.filter(lit(false)), 1L)
    assert(bits(CurationStream.topComponentReport(
      spark, dir, "vec_id", "v").get) ==
      bits(Similarity.topComponentFit(b0, "vec_id", "v")))
    // no state at all -> None, not a crash
    assert(CurationStream.topComponentReport(spark,
      Files.createTempDirectory("tc_empty").toString, "vec_id", "v").isEmpty)
  }

  test("component drift monitor: a rotated dominant direction moves the gauge off 1.0") {
    import graft.streaming.CurationStream
    val dir = Files.createTempDirectory("tc_drift").toString
    // batch 0: variance dominated by dim 0; batch 1 floods in points whose
    // variance lives on dim 1 — the refreshed fit must rotate
    val b0 = (0 until 20).map(i =>
      (i.toLong, Seq((i - 10).toFloat, 0.1f * (i % 3), 0f, 0f)))
      .toDF("vec_id", "v")
    val b1 = (20 until 80).map(i =>
      (i.toLong, Seq(0.1f * (i % 3), (i - 50).toFloat * 2f, 0f, 0f)))
      .toDF("vec_id", "v")
    CurationStream.topComponentBatch(dir, "vec_id", "v", sampleMax = 256L)(b0, 0L)
    val fit0 = CurationStream.topComponentReport(spark, dir, "vec_id", "v").get._2
    assert(CurationStream.componentDrift(fit0, fit0) == 1.0,
      "identical fits must gauge exactly 1.0 (sign-invariant |cos|)")
    CurationStream.topComponentBatch(dir, "vec_id", "v", sampleMax = 256L)(b1, 1L)
    val fit1 = CurationStream.topComponentReport(spark, dir, "vec_id", "v").get._2
    val drift = CurationStream.componentDrift(fit0, fit1)
    assert(drift < 0.5,
      s"the dominant direction rotated ~90 degrees; the gauge must fall: $drift")
    // sign-invariance: the gauge must not alarm on a power iteration that
    // converged to -v
    assert(CurationStream.componentDrift(fit1, fit1.map(-_)) == 1.0)
  }

  test("component drift ALARM series: a planted rotation schedule alarms at the rotated report and not before") {
    import graft.streaming.CurationStream
    val sampleDir = Files.createTempDirectory("tcm_sample").toString
    val monDir = Files.createTempDirectory("tcm_points").toString
    // planted schedule over 4 micro-batches: batches 0-2 keep the corpus
    // variance on dim 0 (stable common direction); batch 3 floods in
    // points whose variance lives on dim 1 and outweighs the history —
    // the refreshed fit must rotate THERE and nowhere earlier
    def stable(ids: Range) = ids.map(i =>
      (i.toLong, Seq((i % 21 - 10).toFloat * 3f, 0.1f * (i % 3), 0f, 0f)))
    def rotated(ids: Range) = ids.map(i =>
      (i.toLong, Seq(0.1f * (i % 3), (i % 41 - 20).toFloat * 30f, 0f, 0f)))
    val batches = Seq(
      stable(0 until 20), stable(20 until 40), stable(40 until 60),
      rotated(60 until 200))
    batches.zipWithIndex.foreach { case (rows, id) =>
      CurationStream.topComponentBatch(sampleDir, "vec_id", "v",
        sampleMax = 1024L)(rows.toDF("vec_id", "v"), id.toLong)
      val fit = CurationStream.topComponentReport(
        spark, sampleDir, "vec_id", "v").get._2
      CurationStream.componentFitPoint(spark, monDir, id.toLong, fit)
    }
    val series = CurationStream.componentDriftAlarms(spark, monDir,
      threshold = 0.9)
    assert(series.map(_._1) == Seq(1L, 2L, 3L), s"got $series")
    // stable reports gauge ~1.0 (no alarm); the rotated report alarms
    assert(series.take(2).forall { case (_, d, alarm) => d > 0.99 && !alarm },
      s"no alarm before the planted rotation: $series")
    val (_, dRot, alarmRot) = series.last
    assert(alarmRot && dRot < 0.5,
      s"the rotated report must alarm (drift $dRot): $series")
    // a replayed report point overwrites itself — the series is unchanged
    val fit3 = CurationStream.topComponentReport(
      spark, sampleDir, "vec_id", "v").get._2
    CurationStream.componentFitPoint(spark, monDir, 3L, fit3)
    assert(CurationStream.componentDriftAlarms(spark, monDir, 0.9) == series)
    // fewer than two points -> empty series, not a crash
    assert(CurationStream.componentDriftAlarms(spark,
      Files.createTempDirectory("tcm_empty").toString, 0.9).isEmpty)
  }

  test("KL drift ALARM series: a planted distribution shift alarms at its first covering report and not before") {
    import graft.streaming.CurationStream
    val countsDir = Files.createTempDirectory("klm_counts").toString
    val monDir = Files.createTempDirectory("klm_points").toString
    // planted schedule over 4 micro-batches: source A stays on one token
    // distribution throughout; source B rides the same shape for batches
    // 0-2 and flips to a DISJOINT vocabulary at batch 3 — B's KL-vs-corpus
    // point must jump at report 3 and nowhere earlier, and A (the corpus
    // bulk) must stay under any threshold that catches B.
    def aDocs(ids: Range) = ids.map(i => (i.toLong, "x x x y y z", "A"))
    def bStable(ids: Range) = ids.map(i => (i.toLong, "x x y z", "B"))
    def bShift(ids: Range) = ids.map(i => (i.toLong, "q q q r r s", "B"))
    val batches = Seq(
      aDocs(0 until 8) ++ bStable(100 until 102),
      aDocs(8 until 16) ++ bStable(102 until 104),
      aDocs(16 until 24) ++ bStable(104 until 106),
      aDocs(24 until 32) ++ bShift(106 until 112))
    batches.zipWithIndex.foreach { case (rows, id) =>
      CurationStream.tokenCountsBatch(countsDir, "text", "source")(
        rows.toDF("doc_id", "text", "source"), id.toLong)
      CurationStream.klDriftPoint(monDir, id.toLong,
        CurationStream.klDriftReport(spark, countsDir, "source"), "source")
    }
    def series(threshold: Double) =
      CurationStream.klDriftAlarms(spark, monDir, "source", threshold)
        .select(col("report_id"), col("source"), col("drift"), col("alarm"))
        .as[(Long, String, Double, Boolean)].collect()
        .sortBy(t => (t._1, t._2)).toSeq
    val pts = series(threshold = 1e9) // no alarms; read the drifts
    assert(pts.map(p => (p._1, p._2)) ==
      Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"), (3L, "A"), (3L, "B")),
      s"one row per consecutive report pair per source: $pts")
    val bShiftDrift = pts.collectFirst { case (3L, "B", d, _) => d }.get
    // "stable" includes A's report-3 point, which legitimately moves a
    // little (B's shift moved the CORPUS distribution under A) — the
    // planted shift must still dominate every non-shift point clearly
    val stableMax = pts.collect {
      case (r, src, d, _) if !(r == 3L && src == "B") => d
    }.max
    assert(bShiftDrift > stableMax * 3,
      s"the planted shift must dominate ambient drift: $bShiftDrift vs $stableMax")
    // threshold between the regimes: exactly ONE alarm, at (3, B)
    val thr = (stableMax + bShiftDrift) / 2
    val alarms = series(thr).filter(_._4)
    assert(alarms.map(a => (a._1, a._2)) == Seq((3L, "B")),
      s"alarm exactly at the planted shift: ${series(thr)}")
    // a replayed report point overwrites itself — the series is unchanged
    val before = series(thr)
    CurationStream.klDriftPoint(monDir, 3L,
      CurationStream.klDriftReport(spark, countsDir, "source"), "source")
    assert(series(thr) == before,
      "a replayed point must overwrite its own report, not fork the series")
    // fewer than two reports -> empty series with the contract schema
    val none = CurationStream.klDriftAlarms(spark,
      Files.createTempDirectory("klm_empty").toString, "source", 0.5)
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("report_id", "source", "kl", "drift", "alarm"))
  }

  test("compactCounts sum-merges committed count partitions; report unchanged") {
    import graft.streaming.CurationStream
    import graft.ext.CurationOps
    val dir = Files.createTempDirectory("kl_compact").toString
    val b0 = Seq((1L, "a a b", "A"), (2L, "b c", "B")).toDF("doc_id", "text", "source")
    val b1 = Seq((3L, "a c", "A")).toDF("doc_id", "text", "source")
    val b2 = Seq((4L, "d d", "B")).toDF("doc_id", "text", "source")
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, id) =>
      CurationStream.tokenCountsBatch(dir, "text", "source")(b, id.toLong)
    }
    def report() = CurationStream.klDriftReport(spark, dir, "source")
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    val before = report()
    // compact batches 0 and 1 (committed horizon = 2); batch 2 stays
    assert(CurationStream.compactCounts(spark, dir, uptoBatchId = 2L, "source"))
    val dirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted.toSeq
    assert(dirs == Seq("batch=1", "batch=2"), s"got $dirs")
    assert(report() == before, "compaction must not change the drift report")
    // the merged partition is SUM-aggregated: one row per (source, token)
    val merged = spark.read.parquet(s"$dir/batch=1")
    assert(merged.count() == merged.select($"source", $"__tok").distinct().count())
    // token 'a': 2 (batch 0) + 1 (batch 1) summed into one row
    val aCount = merged.filter($"source" === "A" && $"__tok" === "a")
      .select($"__c").as[Long].collect().toSeq
    assert(aCount == Seq(3L), s"got $aCount")
  }

  test("a crashed compaction of the count and stat stores neither loses nor double-counts") {
    import graft.streaming.CurationStream
    val batches = Seq(
      Seq((1L, "a a b", "A", "en"), (2L, "b c", "B", "de")),
      Seq((3L, "a c", "A", "en")),
      Seq((4L, "d d", "B", "en")))
      .map(_.toDF("doc_id", "text", "source", "lang"))
    // report rows with doubles as raw bits: the merge must be exact
    def bits(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      }).sortBy(_.mkString("|")).toSeq
    final case class SumStore(name: String, write: (String, Long) => Unit,
        report: String => Seq[Seq[Any]],
        compact: (String, String => Unit) => Boolean)
    val stores = Seq(
      SumStore("counts",
        (dir, id) => CurationStream.tokenCountsBatch(dir, "text", "source")(
          batches(id.toInt), id),
        dir => bits(CurationStream.klDriftReport(spark, dir, "source")),
        (dir, onStep) => CurationStream.compactCounts(spark, dir,
          uptoBatchId = 3L, "source", onStep)),
      SumStore("stats",
        (dir, id) => CurationStream.docStatsBatch(dir, "text", "source", "lang")(
          batches(id.toInt), id),
        dir => bits(CurationStream.corpusReportStream(spark, dir)),
        (dir, onStep) => CurationStream.compactStats(spark, dir,
          uptoBatchId = 3L, onStep = onStep)))
    for (store <- stores; step <- Seq("merged", "aside", "committed")) {
      val dir = Files.createTempDirectory(s"${store.name}_crash_$step").toString
      batches.indices.foreach(i => store.write(dir, i.toLong))
      val before = store.report(dir)
      val boom = intercept[RuntimeException] {
        store.compact(dir, s => if (s == step) throw new RuntimeException(s"crash at $s"))
      }
      assert(boom.getMessage == s"crash at $step")
      // aside: batch=2 sits renamed away until a reader heals it back;
      // committed: the folded originals still lie next to the merged sum
      assert(store.report(dir) == before,
        s"${store.name}: crash window '$step' changed the report")
      assert(store.compact(dir, _ => ()),
        s"${store.name}: the follow-up compaction after '$step' must complete")
      assert(store.report(dir) == before,
        s"${store.name}: the follow-up compaction after '$step' changed the report")
      val left = new java.io.File(dir).listFiles().map(_.getName)
        .filter(n => n.startsWith("batch=") || n.startsWith(".old-") ||
          n.startsWith(".compact-")).sorted.toSeq
      assert(left == Seq("batch=2"),
        s"${store.name}: after '$step' and a follow-up compaction: $left")
    }
  }

  test("incremental corpus report: streamed cell partitions reproduce batch c15 exactly") {
    import graft.streaming.CurationStream
    import graft.ext.CurationOps
    val dir = Files.createTempDirectory("cr_stats").toString
    val b0 = Seq((1L, "a b c", "web", "en"), (2L, "d e", "web", "de"))
      .toDF("doc_id", "text", "source", "lang")
    val b1 = Seq((3L, "f g h i", "web", "en"), (4L, "j", "books", "en"))
      .toDF("doc_id", "text", "source", "lang")
    CurationStream.docStatsBatch(dir, "text", "source", "lang")(b0, 0L)
    CurationStream.docStatsBatch(dir, "text", "source", "lang")(b1, 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Long, Long, Long, Long)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    val streamed = rows(CurationStream.corpusReportStream(spark, dir))
    val batch = rows(CurationOps.corpusReport(b0.union(b1), "text", "source", "lang"))
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // max merges as max, not sum: the (web, en) cell spans both batches
    assert(streamed.find(r => r._1 == "web" && r._2 == "en").get._6 == 4L)
    // replay idempotency + compaction leave the report unchanged
    CurationStream.docStatsBatch(dir, "text", "source", "lang")(b1, 1L)
    assert(rows(CurationStream.corpusReportStream(spark, dir)) == batch)
    CurationStream.docStatsBatch(dir, "text", "source", "lang")(
      Seq((5L, "k l", "web", "en")).toDF("doc_id", "text", "source", "lang"), 2L)
    val withB2 = rows(CurationStream.corpusReportStream(spark, dir))
    assert(CurationStream.compactStats(spark, dir, uptoBatchId = 2L))
    assert(rows(CurationStream.corpusReportStream(spark, dir)) == withB2)
    // absent state -> empty report
    assert(CurationStream.corpusReportStream(spark,
      Files.createTempDirectory("cr_empty").toString).count() == 0)
  }

  test("hash-threshold samplers are stateless: a stream keeps exactly the batch rows") {
    import graft.ext.CurationOps
    // the sampler's contract — the same row is kept on every run, engine,
    // and data subset — means it composes with readStream unchanged: no
    // state, no watermark, just a broadcast threshold table + hash filter
    val docsB = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"lang", $"text")
    val rates = Map("en" -> 0.4, "de" -> 1.0, "fr" -> 0.1)
    val batchKept = CurationOps.sampleStratified(docsB, "lang", "doc_id", rates)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val mem = MemoryStream[(Long, String, String)]
    val streamed = CurationOps.sampleStratified(
      mem.toDF().toDF("doc_id", "lang", "text"), "lang", "doc_id", rates)
    val q = streamed.writeStream.format("memory").queryName("samp_stream")
      .outputMode("append").start()
    try {
      val rows = docsB.as[(Long, String, String)].collect()
      // two batches: statelessness means the split cannot matter
      mem.addData(rows.take(rows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val streamKept = spark.table("samp_stream")
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(streamKept == batchKept,
        s"stream kept ${streamKept.size} rows, batch kept ${batchKept.size}")
    } finally q.stop()
  }

  test("stream-stream interval join: purchases attribute to clicks within the window") {
    val clicks = MemoryStream[StreamEvt]
    val buys = MemoryStream[StreamEvt]
    val c = clicks.toDF().select($"user_id".as("c_user"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val b = buys.toDF().select($"user_id".as("b_user"), $"event_id".as("b_id"), $"ts".as("b_ts"))
      .withWatermark("b_ts", "10 minutes")
    // join condition bounds state on BOTH sides: click within 30min before buy
    val joined = b.join(c,
      expr("b_user = c_user AND c_ts <= b_ts AND c_ts >= b_ts - INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      clicks.addData(StreamEvt(1, 7, "click", ts(0)), StreamEvt(2, 7, "click", ts(50)),
        StreamEvt(3, 8, "click", ts(5)))
      buys.addData(StreamEvt(10, 7, "purchase", ts(20)))  // joins click@0 only
      q.processAllAvailable()
      clicks.addData(StreamEvt(4, 9, "click", ts(120)))   // watermark advance
      buys.addData(StreamEvt(11, 9, "purchase", ts(125)))
      q.processAllAvailable()
      val rows = awaitRows("ssj_out", _.nonEmpty)
      val attributed = rows.map(r => (r.getAs[Long]("b_id"), r.getAs[java.sql.Timestamp]("c_ts")))
      assert(attributed.contains((10L, ts(0))), s"purchase 10 must attribute to click@00:00: $attributed")
      assert(!attributed.contains((10L, ts(50))), "a later click must not attribute")
    } finally q.stop()
  }

  test("stateful dedup runs on the RocksDB state store provider (tuning knob confs)") {
    // the GraftSession.withRocksDbState combination, applied to the live
    // session: provider + changelog checkpointing + bounded memory
    val knobs = GraftSession.rocksDbStateConfs(
      changelogCheckpointing = true, boundedMemoryMb = Some(256L))
    assert(knobs("spark.sql.streaming.stateStore.providerClass").contains("RocksDB"))
    assert(knobs("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage") == "true")
    val prev = knobs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    knobs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val mem = MemoryStream[StreamEvt]
      val out = Pipeline.dedupWithinWatermark(mem.toDF(), "ts", "10 minutes", Seq("event_id"))
      val q = out.writeStream.format("memory").queryName("rocks_out")
        .outputMode("append").start()
      try {
        mem.addData(StreamEvt(1, 1, "click", ts(1)), StreamEvt(1, 1, "click", ts(2)),
          StreamEvt(2, 2, "view", ts(3)))
        q.processAllAvailable()
        val ids = spark.table("rocks_out").collect().map(_.getAs[Long]("event_id")).sorted
        assert(ids.toSeq == Seq(1L, 2L))
      } finally q.stop()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("parquet-driven stream reproduces the batch windowed aggregation (q16 twin)") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.load(spark, dir, "events")
    val expected = batchEvents
      .groupBy(window(col("ts"), "1 day"), col("event_type")).count()
      .select(col("window.start").as("ws"), col("event_type"), col("count"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // stream the same parquet (raw generator schema + the shared ts
    // normalization the batch path applies);
    // the file source wants a directory, so stage the single file into one
    val stageDir = Files.createTempDirectory("graft-parity-in")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      stageDir.resolve("events.parquet"))
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val stream = Tables.normalizeTs(spark.readStream.schema(raw.schema)
      .parquet(stageDir.toString))
    val agg = stream
      .groupBy(window(col("ts"), "1 day"), col("event_type")).count()
      .select(col("window.start").as("ws"), col("event_type"), col("count"))
    val q = agg.writeStream.format("memory").queryName("parity_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("parity_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected, "stream and batch answers must be identical")
  }

  test("parquet-driven stream reproduces the batch HOPPING-window aggregation (q44 twin)") {
    // q44's claim is that window(ts, 1h, 30m) is the construct batch SHARES
    // with streaming — prove it: the same hopping aggregation over the same
    // rows, streamed, must produce the identical (hop, type) -> (n, cents)
    // map (integer cents, so equality is exact, not approximate).
    val dir = "/root/testdata/sf0.001"
    val expected = graft.analytics.Queries.q44HoppingWindow(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val stageDir = Files.createTempDirectory("graft-hop-in")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      stageDir.resolve("events.parquet"))
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val stream = Tables.normalizeTs(spark.readStream.schema(raw.schema)
      .parquet(stageDir.toString))
    val agg = stream
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(unix_micros(col("w.start")).as("hop_start_us"), col("event_type"),
        col("n_events"), col("value_cents"))
    val q = agg.writeStream.format("memory").queryName("hop_parity_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hop_parity_out").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == expected, "streamed hopping windows must equal batch q44 exactly")
  }

  test("date-partitioned NDJSON file sink is exactly-once and prunable (O2 twin)") {
    val mem = MemoryStream[StreamEvt]
    val outDir = Files.createTempDirectory("graft-file-out").toFile
    val ckDir = Files.createTempDirectory("graft-file-ck").toFile
    val q = Pipeline.toNdjsonFileSink(mem.toDF(), "ts",
        outDir.getAbsolutePath, ckDir.getAbsolutePath, 100.millis)
      .start()
    try {
      mem.addData(StreamEvt(1, 1, "click", ts(1)),
        StreamEvt(2, 2, "view", Timestamp.valueOf("2024-01-02 00:05:00")))
      q.processAllAvailable()
    } finally q.stop()
    val entries = outDir.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(entries.contains("_spark_metadata"),
      "file-sink commit log present (the exactly-once mechanism)")
    assert(entries.filter(_.startsWith("event_date=")).toSeq ==
      Seq("event_date=2024-01-01", "event_date=2024-01-02"),
      "hive-style date partitions for downstream partition pruning")
    val lines = spark.read.textFile(outDir.getAbsolutePath).collect()
    assert(lines.length == 2 && lines.forall(_.startsWith("{")))
    // exactly-once: re-reading through the commit log sees each record once
    val reread = spark.read.format("text")
      .load(outDir.getAbsolutePath).count()
    assert(reread == 2)
  }

  test("rate-source synthesis produces metric/probe shaped streams (S3/S4)") {
    val q1 = Pipeline.syntheticMetrics(spark, 500)
      .writeStream.format("memory").queryName("metrics_out").start()
    val q2 = Pipeline.syntheticProbes(spark, 500)
      .writeStream.format("memory").queryName("probes_out").start()
    try {
      awaitRows("metrics_out", _.nonEmpty)
      awaitRows("probes_out", _.nonEmpty)
      val m = spark.table("metrics_out").limit(50).collect()
      assert(m.forall(r => r.getAs[String]("host").startsWith("host-")))
      assert(m.forall(r => { val p = r.getAs[Double]("pct"); p >= 0.0 && p < 100.0 }))
      val pr = spark.table("probes_out").limit(50).collect()
      assert(pr.forall(r => Set("up", "down")(r.getAs[String]("status"))))
    } finally { q1.stop(); q2.stop() }
  }

  test("gap-based session windows merge and split on the configured gap") {
    val mem = MemoryStream[StreamEvt]
    val out = Pipeline.sessionCounts(mem.toDF(), "ts",
      watermark = "10 minutes", gap = "5 minutes")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // user 1: events at 00:00/00:02/00:04 chain into one session;
      // 00:30 starts a second one.
      mem.addData(
        StreamEvt(1, 1, "click", ts(0)), StreamEvt(2, 1, "click", ts(2)),
        StreamEvt(3, 1, "click", ts(4)), StreamEvt(4, 1, "click", ts(30)))
      q.processAllAvailable()
      mem.addData(StreamEvt(5, 2, "click", ts(120))) // watermark -> 01:50
      q.processAllAvailable()
      mem.addData(StreamEvt(6, 2, "click", ts(125))) // eviction batch
      q.processAllAvailable()
      val rows = awaitRows("sess_out",
        _.count(_.getAs[Long]("user_id") == 1L) == 2)
      val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
        .map(_.getAs[Long]("n_events")).sorted
      assert(u1.toSeq == Seq(1L, 3L), "sessions of 3 events and 1 event")
    } finally q.stop()
  }

  test("streaming IVF-PQ index: streamed-built search equals batch-built; replay idempotent") {
    import graft.streaming.CurationStream
    import graft.ext.Similarity
    val e = Tables.loadSpread(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 500).localCheckpoint(true)
    val queries = e.filter(col("vec_id") < 10)
    val model = Similarity.ivfPqTrain(e, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, iters = 1)
    def searchRows(codes: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqSearch(model, codes, e, queries, "vec_id", "embedding",
          k = 5, nprobe = 2, refine = 2, pruneLists = true)
        .select(col("query_id"), col("rank"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val batchRows = searchRows(
      Similarity.ivfPqEncode(model, e, "vec_id", "embedding"))
    val dir = Files.createTempDirectory("ivfpq_stream").toString
    val slices = (0 until 3).map(i => e.filter(col("vec_id") % 3 === i))
    slices.zipWithIndex.foreach { case (b, i) =>
      CurationStream.ivfPqIndexBatch(dir, model, "vec_id", "embedding")(b, i.toLong)
    }
    assert(searchRows(CurationStream.loadIndex(spark, dir, "id")) == batchRows,
      "streamed-built index search must equal the batch-built search")
    // replay idempotency: batch 1 re-runs against an index that already
    // holds its partition — rewritten, not duplicated
    CurationStream.ivfPqIndexBatch(dir, model, "vec_id", "embedding")(slices(1), 1L)
    assert(rawPartitions(dir).count() == 500L,
      "a replayed batch must rewrite, not duplicate, its partition")
    assert(searchRows(CurationStream.loadIndex(spark, dir, "id")) == batchRows,
      "replay must leave the search identical")
    // an empty replay rewrites the partition to nothing, then a fresh
    // non-empty replay restores it (the delete/rewrite idempotency pair)
    CurationStream.ivfPqIndexBatch(dir, model, "vec_id", "embedding")(
      slices(1).filter(lit(false)), 1L)
    assert(!new java.io.File(dir, "batch=1").exists(),
      "an empty replay must delete the stale partition")
    CurationStream.ivfPqIndexBatch(dir, model, "vec_id", "embedding")(slices(1), 1L)
    assert(searchRows(CurationStream.loadIndex(spark, dir, "id")) == batchRows)
  }

  test("streaming binary-signature index: streamed-built equals the batch table; fusion leg parity; compaction exact") {
    import graft.streaming.CurationStream
    import graft.ext.Similarity
    val sfDir = "/root/testdata/sf0.001"
    val e = Tables.loadSpread(spark, sfDir, "embeddings").localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("sig0"), col("sig1"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val batchTable = rows(Similarity.binarySigTable(spark, sfDir))
    val dir = Files.createTempDirectory("binsig_stream").toString
    val slices = (0 until 3).map(i => e.filter(col("vec_id") % 3 === i))
    slices.zipWithIndex.foreach { case (b, i) =>
      CurationStream.binarySigBatch(dir, "vec_id", "embedding")(b, i.toLong)
    }
    assert(rows(CurationStream.loadIndex(spark, dir, "vec_id")) == batchTable,
      "streamed-built signatures must equal the one-shot table bit-exactly")
    // replay idempotency: rewrite, not duplicate; empty replay deletes
    CurationStream.binarySigBatch(dir, "vec_id", "embedding")(slices(1), 1L)
    assert(rawPartitions(dir)
      .count() == batchTable.size.toLong)
    CurationStream.binarySigBatch(dir, "vec_id", "embedding")(
      slices(1).filter(lit(false)), 1L)
    assert(!new java.io.File(dir, "batch=1").exists(),
      "an empty replay must delete the stale partition")
    CurationStream.binarySigBatch(dir, "vec_id", "embedding")(slices(1), 1L)
    // the served fusion's Hamming leg reads the streamed index and must
    // rank identically to the leg over the content-addressed batch table
    def leg(sigs: org.apache.spark.sql.DataFrame) =
      Similarity.hammingRankingFromSigs(sigs, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._3)).toSeq
    assert(leg(CurationStream.loadIndex(spark, dir, "vec_id")) ==
      leg(Similarity.binarySigTable(spark, sfDir)),
      "the fusion's Hamming leg must serve identically from the streamed index")
    // compaction merges to one partition, rows unchanged
    assert(CurationStream.compactBinarySigIndex(spark, dir, uptoBatchId = 3L))
    assert(rows(CurationStream.loadIndex(spark, dir, "vec_id")) == batchTable,
      "compaction must preserve the signature rows exactly")
  }

  test("streaming dense bucket index: streamed-built equals the batch bucket table; compaction crash-safe") {
    import graft.streaming.CurationStream
    import graft.ext.Similarity
    val sfDir = "/root/testdata/sf0.001"
    val e = Tables.loadSpread(spark, sfDir, "embeddings").localCheckpoint(true)
    // width fixed at index creation = the batch table's adaptive width at
    // this corpus (bucketPlanes floor) so the two stores are comparable
    val w = 8
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("bucket"), col("nrm"), col("v"))
        .as[(Long, Long, Double, Seq[Double])].collect()
        .map { case (id, b, n, v) =>
          (id, b, java.lang.Double.doubleToRawLongBits(n),
            v.map(java.lang.Double.doubleToRawLongBits))
        }.sortBy(_._1).toSeq
    val batchTable = rows(Similarity.bucketTable(spark, sfDir))
    val dir = Files.createTempDirectory("bucket_stream").toString
    val slices = (0 until 3).map(i => e.filter(col("vec_id") % 3 === i))
    slices.zipWithIndex.foreach { case (b, i) =>
      CurationStream.bucketBatch(dir, "vec_id", "embedding", w)(b, i.toLong)
    }
    assert(rows(CurationStream.loadIndex(spark, dir, "vec_id")) == batchTable,
      "streamed-built bucket rows must equal the one-shot store bit-exactly")
    // replay idempotency: rewrite, not duplicate; empty replay deletes
    CurationStream.bucketBatch(dir, "vec_id", "embedding", w)(slices(1), 1L)
    assert(rawPartitions(dir)
      .count() == batchTable.size.toLong,
      "a replayed batch must rewrite, not duplicate, its partition")
    CurationStream.bucketBatch(dir, "vec_id", "embedding", w)(
      slices(1).filter(lit(false)), 1L)
    assert(!new java.io.File(dir, "batch=1").exists(),
      "an empty replay must delete the stale partition")
    CurationStream.bucketBatch(dir, "vec_id", "embedding", w)(slices(1), 1L)
    // crash-safe compaction in every window (the ivfPq battery)
    for (step <- Seq("merged", "aside", "committed")) {
      val boom = intercept[RuntimeException] {
        CurationStream.compactBucketIndex(spark, dir, uptoBatchId = 3L,
          onStep = s => if (s == step) throw new RuntimeException(s"crash at $s"))
      }
      assert(boom.getMessage == s"crash at $step")
      // the next reader heals in-line and the id-dedup load stays exact
      assert(rows(CurationStream.loadIndex(spark, dir, "vec_id")) == batchTable,
        s"crash window '$step' broke the streamed bucket table")
      // a follow-up compaction completes and leaves no recovery residue
      assert(CurationStream.compactBucketIndex(spark, dir, uptoBatchId = 3L))
      val residue = new java.io.File(dir).listFiles().map(_.getName)
        .filter(n => n.startsWith(".old-") || n.startsWith(".compact-")).toSeq
      assert(residue.isEmpty, s"crash window '$step' left $residue")
      assert(rows(CurationStream.loadIndex(spark, dir, "vec_id")) == batchTable,
        s"post-compaction rows after '$step' must be unchanged")
      // re-seed batch partitions for the next crash window (compaction
      // merged them into batch=0): rewrite the original slices
      if (step != "committed")
        slices.zipWithIndex.foreach { case (b, i) =>
          CurationStream.bucketBatch(dir, "vec_id", "embedding", w)(b, i.toLong)
        }
    }
  }

  test("streaming component-label store: streamed ≡ batch bit-exact; replay idempotent; serving shapes unchanged") {
    import graft.streaming.CurationStream
    import graft.ext.{CurationOps, DedupOps}
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("component"), col("group_size"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // the batch ground truth: the sigComponentsTable content recomputed
    // through the public pair + component + size chain (same 2×15-band
    // Hamming-1 configuration)
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text")
    val comp = DedupOps.connectedComponents(pairs, "id_a", "id_b")
    val batchTable = rows(comp
      .join(comp.groupBy(col("component")).agg(count(lit(1)).as("group_size")),
        Seq("component"))
      .select(col("id"), col("component"), col("group_size")))
    assert(batchTable.nonEmpty, "witness corpus must have near-dup pairs")
    val dir = Files.createTempDirectory("comp_stream").toString
    val slices = (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i))
    slices.zipWithIndex.foreach { case (b, i) =>
      CurationStream.componentBatch(dir, "doc_id", "text")(b, i.toLong)
    }
    assert(rows(CurationStream.loadComponentIndex(spark, dir)) == batchTable,
      "streamed-built labels must equal the batch component table bit-exactly")
    // replay idempotency: rewrite, not duplicate (raw label rows unchanged)
    val rawBefore = new java.io.File(s"$dir/labels").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq
    CurationStream.componentBatch(dir, "doc_id", "text")(slices(1), 1L)
    val rawAfter = new java.io.File(s"$dir/labels").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq
    assert(rawAfter == rawBefore, "a replay must rewrite its own partitions")
    assert(rows(CurationStream.loadComponentIndex(spark, dir)) == batchTable,
      "a replayed batch must not change the resolved labels")
    // empty replay deletes both sub-partitions
    CurationStream.componentBatch(dir, "doc_id", "text")(
      slices(1).filter(lit(false)), 1L)
    assert(!new java.io.File(s"$dir/sigs/batch=1").exists(),
      "an empty replay must delete the stale sigs partition")
    assert(!new java.io.File(s"$dir/labels/batch=1").exists(),
      "an empty replay must delete the stale labels partition")
    CurationStream.componentBatch(dir, "doc_id", "text")(slices(1), 1L)
    assert(rows(CurationStream.loadComponentIndex(spark, dir)) == batchTable)
    // banding parameters are machine-enforced at the store (_meta contract)
    val boom = intercept[IllegalArgumentException] {
      CurationStream.componentBatch(dir, "doc_id", "text", bands = 3,
        bitsPerBand = 10, maxHamming = 1)(slices(0), 3L)
    }
    assert(boom.getMessage.contains("bands"),
      s"parameter mismatch must fail loudly: ${boom.getMessage}")
    // the batch serving shapes consume the streamed store unchanged:
    // c17/c19 (soft-dedup weights) and d11 (cluster-size histogram)
    val streamed = CurationStream.loadComponentIndex(spark, dir)
    def weightRows(compDf: org.apache.spark.sql.DataFrame) =
      CurationOps.softDedupWeightsFromComponents(docs, "doc_id", compDf)
        .collect().map(r => r.toSeq.map(String.valueOf).mkString("|"))
        .sorted.toSeq
    val batchComp = comp
      .join(comp.groupBy(col("component")).agg(count(lit(1)).as("group_size")),
        Seq("component"))
      .select(col("id"), col("component"), col("group_size"))
    assert(weightRows(streamed) == weightRows(batchComp),
      "c17's weights must serve identically from the streamed store")
    def statRows(compDf: org.apache.spark.sql.DataFrame) =
      DedupOps.componentStatsFromLabels(docs, "doc_id", compDf)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(statRows(streamed) == statRows(batchComp),
      "d11's histogram must serve identically from the streamed store")
  }

  test("an empty _meta crash remnant heals instead of bricking the index; mismatches still fail") {
    // round-19 ADVICE #2: a crash between create and write left an empty
    // _meta.<key>, after which every later batch failed the mismatch
    // require against recorded="" forever. The publish is now atomic
    // (temp + rename) and an empty file reads as ABSENT and re-publishes.
    import graft.streaming.CurationStream
    val dir = Files.createTempDirectory("meta_heal").toString
    val docs = Tables.loadSpread(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 50)
      .localCheckpoint(true)
    CurationStream.componentBatch(dir, "doc_id", "text")(docs, 0L)
    // simulate the legacy crash shape: truncate _meta.bands to zero bytes
    val meta = new java.io.File(dir, "_meta.bands")
    assert(meta.isFile && meta.length > 0, "store must have recorded bands")
    new java.io.FileOutputStream(meta).close()
    assert(meta.length == 0)
    // next batch heals (re-publishes the value) instead of failing forever
    CurationStream.componentBatch(dir, "doc_id", "text")(docs, 1L)
    assert(new java.io.File(dir, "_meta.bands").length > 0,
      "the healed _meta must carry the re-published value")
    // and the mismatch contract still fails loudly on a REAL value
    val boom = intercept[IllegalArgumentException] {
      CurationStream.componentBatch(dir, "doc_id", "text", bands = 3,
        bitsPerBand = 10)(docs, 2L)
    }
    assert(boom.getMessage.contains("bands"), boom.getMessage)
    // no temp-file residue from the atomic publishes (`._meta.<key>.crc`
    // is the local filesystem's legitimate checksum sidecar, not residue)
    val residue = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("._meta") && n.contains(".tmp-")).toSeq
    assert(residue.isEmpty, s"atomic meta publish left $residue")
  }

  test("a re-ingested doc_id pairs by its BATCH signature, not a stale index row") {
    // round-19 ADVICE #3: componentBatch's probe set resolved a doc_id
    // with two live signatures (batch + earlier index) through first() —
    // nondeterministic hamming, and a stale signature could emit a pair
    // the CURRENT text does not justify. The batch-wins anti-join makes
    // the batch's signature authoritative for its own pair generation.
    import graft.streaming.CurationStream
    import graft.ext.DedupOps
    val tA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val tB = "quarterly financial results exceeded analyst expectations despite currency headwinds in europe"
    // precondition: no band of simhash(tA) matches the same band of
    // simhash(tB) — otherwise the scenario would not discriminate
    val sigs = DedupOps.withSimhash(
        Seq((1L, tA), (2L, tB)).toDF("doc_id", "__text"),
        "__text", "simhash", 30)
      .select(col("doc_id"), col("simhash")).as[(Long, Long)]
      .collect().toMap
    val mask = (1L << 15) - 1
    (0 until 2).foreach { b =>
      assert(((sigs(1L) >> (15 * b)) & mask) != ((sigs(2L) >> (15 * b)) & mask),
        s"fixture texts must not band-collide (band $b)")
    }
    val dir = Files.createTempDirectory("comp_reingest").toString
    // batch 0: doc 1 carries text A (no pairs — nothing else in the store)
    CurationStream.componentBatch(dir, "doc_id", "text")(
      Seq((1L, tA)).toDF("doc_id", "text"), 0L)
    // batch 1: doc 1 RE-ARRIVES with text B, alongside doc 3 with text A.
    // Doc 1's current text is B, so (1,3) are NOT near-dups — but doc 1's
    // STALE text-A signature in the index band-collides with doc 3's
    // text-A probe, and a stale-sig resolution would emit the pair.
    CurationStream.componentBatch(dir, "doc_id", "text")(
      Seq((1L, tB), (3L, tA)).toDF("doc_id", "text"), 1L)
    val labeled = CurationStream.loadComponentIndex(spark, dir)
      .select(col("id")).as[Long].collect().toSet
    assert(!(labeled.contains(1L) && labeled.contains(3L)),
      "a stale index signature must not pair a re-ingested doc against its old text")
  }

  test("component-store compaction is crash-safe in every window; labels stay exact") {
    import graft.streaming.CurationStream
    import graft.ext.DedupOps
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("component"), col("group_size"))
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text")
    val comp = DedupOps.connectedComponents(pairs, "id_a", "id_b")
    val batchTable = rows(comp
      .join(comp.groupBy(col("component")).agg(count(lit(1)).as("group_size")),
        Seq("component"))
      .select(col("id"), col("component"), col("group_size")))
    val dir = Files.createTempDirectory("comp_crash").toString
    val slices = (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i))
    def seed(): Unit = slices.zipWithIndex.foreach { case (b, i) =>
      CurationStream.componentBatch(dir, "doc_id", "text")(b, i.toLong)
    }
    seed()
    for (step <- Seq("merged", "aside", "committed")) {
      val boom = intercept[RuntimeException] {
        CurationStream.compactComponentIndex(spark, dir, uptoBatchId = 3L,
          onStep = s => if (s == step) throw new RuntimeException(s"crash at $s"))
      }
      assert(boom.getMessage == s"crash at $step")
      // the next reader heals in-line; resolved labels stay exact
      assert(rows(CurationStream.loadComponentIndex(spark, dir)) == batchTable,
        s"crash window '$step' broke the streamed component table")
      // a follow-up compaction completes and leaves no recovery residue
      assert(CurationStream.compactComponentIndex(spark, dir, uptoBatchId = 3L))
      for (sub <- Seq("sigs", "labels")) {
        val residue = new java.io.File(s"$dir/$sub").listFiles().map(_.getName)
          .filter(n => n.startsWith(".old-") || n.startsWith(".compact-")).toSeq
        assert(residue.isEmpty, s"crash window '$step' left $sub residue $residue")
      }
      assert(rows(CurationStream.loadComponentIndex(spark, dir)) == batchTable,
        s"post-compaction labels after '$step' must be unchanged")
      // re-seed batch partitions for the next crash window
      if (step != "committed") seed()
    }
  }

  test("IVF-PQ index compaction is crash-safe in every window; search stays exact") {
    import graft.streaming.CurationStream
    import graft.ext.Similarity
    val e = Tables.loadSpread(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 500).localCheckpoint(true)
    val queries = e.filter(col("vec_id") < 10)
    val model = Similarity.ivfPqTrain(e, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, iters = 1)
    def searchRows(codes: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqSearch(model, codes, e, queries, "vec_id", "embedding",
          k = 5, nprobe = 2, refine = 2, pruneLists = true)
        .select(col("query_id"), col("rank"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val batchRows = searchRows(
      Similarity.ivfPqEncode(model, e, "vec_id", "embedding"))
    for (step <- Seq("merged", "aside", "committed")) {
      val dir = Files.createTempDirectory(s"ivfpq_crash_$step").toString
      (0 until 3).foreach { i =>
        CurationStream.ivfPqIndexBatch(dir, model, "vec_id", "embedding")(
          e.filter(col("vec_id") % 3 === i), i.toLong)
      }
      val boom = intercept[RuntimeException] {
        CurationStream.compactIvfPqIndex(spark, dir, uptoBatchId = 3L,
          onStep = s => if (s == step) throw new RuntimeException(s"crash at $s"))
      }
      assert(boom.getMessage == s"crash at $step")
      // the next reader heals in-line; the default id-dedup load keeps the
      // search exact even in the post-commit coexistence window
      assert(searchRows(CurationStream.loadIndex(spark, dir, "id")) == batchRows,
        s"crash window '$step' broke the search")
      // a follow-up compaction completes, folds any duplicate rows away
      // exactly, and leaves no recovery residue
      assert(CurationStream.compactIvfPqIndex(spark, dir, uptoBatchId = 3L))
      val residue = new java.io.File(dir).listFiles().map(_.getName)
        .filter(n => n.startsWith(".old-") || n.startsWith(".compact-")).toSeq
      assert(residue.isEmpty, s"crash window '$step' left $residue")
      assert(rawPartitions(dir)
          .count() == 500L,
        s"post-compaction index after '$step' must hold exactly one row per id")
      assert(searchRows(CurationStream.loadIndex(spark, dir, "id")) == batchRows,
        s"post-compaction search after '$step' must stay exact")
    }
  }
}
