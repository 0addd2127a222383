package graft

import graft.config.StreamsConfig
import graft.sink.BatchPut
import graft.streaming.{LocalCheckpointFileManager, Pipeline}
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.types._
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

object CheckpointFileManagerSpec {
  object Collecting extends BatchPut.Putter with Serializable {
    val got = new ConcurrentLinkedQueue[String]()
    def put(records: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = {
      records.foreach(r => got.add(new String(r.data, UTF_8)))
      records.map(_ => BatchPut.PutResult(None))
    }
  }
}

/** The contract Spark's `CheckpointFileManager` users rely on, held by
  * [[LocalCheckpointFileManager]]: atomic create without overwrite (a
  * concurrent writer sees Hadoop's `FileAlreadyExistsException`), atomic
  * overwrite, cancel, and checkpoints that move between it and Spark's own
  * manager in either direction. Also pins the point of the manager: a
  * checkpointed stream starts no process on its stream execution thread. */
class CheckpointFileManagerSpec extends SparkSpec {
  import CheckpointFileManagerSpec.Collecting

  private val conf = spark.sparkContext.hadoopConfiguration
  private val schema = StructType(Seq(
    StructField("host", StringType), StructField("msg", StringType)))

  private def tempDir(prefix: String): File = Files.createTempDirectory(prefix).toFile
  private def names(dir: File): Set[String] = dir.list().toSet
  private def write(out: java.io.OutputStream, s: String): Unit = out.write(s.getBytes(UTF_8))
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private def managers(dir: File) = {
    val root = new Path(dir.toURI)
    (new LocalCheckpointFileManager(root, conf), new FileContextBasedCheckpointFileManager(root, conf))
  }

  test("createAtomic round trip leaves only the target") {
    val dir = tempDir("graft-cfm-rt")
    val (fm, _) = managers(dir)
    val p = new Path(new Path(dir.toURI), "0")
    val out = fm.createAtomic(p, false)
    write(out, "v1\n{\"a\":1}")
    out.close()
    assert(fm.exists(p))
    assert(read(fm, p) == "v1\n{\"a\":1}")
    assert(names(dir) == Set("0"), "no temp file and no .crc left behind")
  }

  test("createAtomic without overwrite on an existing file throws and keeps the old bytes") {
    val dir = tempDir("graft-cfm-excl")
    val (fm, _) = managers(dir)
    val p = new Path(new Path(dir.toURI), "0")
    val first = fm.createAtomic(p, false)
    write(first, "old")
    first.close()
    val second = fm.createAtomic(p, false)
    write(second, "new")
    intercept[FileAlreadyExistsException](second.close())
    assert(read(fm, p) == "old")
    assert(names(dir) == Set("0"), "the losing writer's temp file is deleted")
  }

  test("createAtomic with overwrite replaces the file and removes a stale .crc") {
    val dir = tempDir("graft-cfm-over")
    val (fm, sparkFm) = managers(dir)
    val p = new Path(new Path(dir.toURI), "state.delta")
    val old = sparkFm.createAtomic(p, false)
    write(old, "written by Spark's manager")
    old.close()
    assert(names(dir).contains(".state.delta.crc"), "Spark's manager leaves a checksum")
    val out = fm.createAtomic(p, true)
    write(out, "replaced")
    out.close()
    assert(names(dir) == Set("state.delta"))
    assert(read(sparkFm, p) == "replaced", "reads back through Spark's checksummed open")
  }

  test("cancel leaves neither the temp file nor the target") {
    val dir = tempDir("graft-cfm-cancel")
    val (fm, _) = managers(dir)
    val p = new Path(new Path(dir.toURI), "0")
    val out = fm.createAtomic(p, false)
    write(out, "abandoned")
    out.cancel()
    assert(!fm.exists(p))
    assert(names(dir).isEmpty)
  }

  test("HDFSMetadataLog: a second add of the same batch id returns false") {
    val dir = tempDir("graft-cfm-log")
    val log = new HDFSMetadataLog[String](spark, dir.getAbsolutePath)
    assert(log.add(0L, "first"))
    assert(!log.add(0L, "second"))
    assert(log.get(0L).contains("first"))
    assert(names(dir) == Set("0"), "the session's manager wrote it (Spark's would leave .0.crc)")
  }

  /** Ships every file in `inDir` not yet committed in `ckDir` on `session`. */
  private def ship(session: SparkSession, inDir: File, ckDir: File,
      maxFilesPerTrigger: Int = 10): Int = {
    val cfg = StreamsConfig(region = "us-east-1", streamName = "t", partitionKey = "host")
    val src = Pipeline.readNdjsonStream(session, inDir.getAbsolutePath, schema, maxFilesPerTrigger)
    val (records, _) = Pipeline.publishTransform(src, cfg)
    val q = Pipeline.toKinesisShapedSink(records, cfg, () => Collecting,
      ckDir.getAbsolutePath, 100.millis).start()
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.count(_.numInputRows > 0)
  }

  private def addFile(inDir: File, name: String, n: Int): Seq[String] = {
    val lines = (0 until n).map(i => s"""{"host":"h-$name-${i % 3}","msg":"$name-$i"}""")
    Files.writeString(new File(inDir, s"$name.ndjson").toPath, lines.mkString("", "\n", "\n"))
    lines.map(_ + "\n")
  }

  private def sparkManagerSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(GraftSession.CheckpointFileManagerConf._1,
      classOf[FileContextBasedCheckpointFileManager].getName)
    s
  }

  test("a checkpoint written through a plain foreachBatch sink resumes on toKinesisShapedSink") {
    Collecting.got.clear()
    val inDir = tempDir("graft-cfm-upgrade-in")
    val ckDir = tempDir("graft-cfm-upgrade-ck")
    val a = addFile(inDir, "a", 7)
    val cfg = StreamsConfig(region = "us-east-1", streamName = "t", partitionKey = "host")
    val src = Pipeline.readNdjsonStream(spark, inDir.getAbsolutePath, schema)
    val seen = new ConcurrentLinkedQueue[String]()
    val q = Pipeline.publishTransform(src, cfg)._1.writeStream
      .option("checkpointLocation", ckDir.getAbsolutePath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.collect().foreach(r => seen.add(r.getString(0)))
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(seen.asScala.toSeq.sorted == a.sorted)
    val b = addFile(inDir, "b", 5)
    ship(spark, inDir, ckDir)
    assert(Collecting.got.asScala.toSeq.sorted == b.sorted,
      "every later record delivered, no committed record put again")
  }

  for ((label, firstSpark) <- Seq("Spark's manager -> this one" -> true,
      "this manager -> Spark's" -> false)) {
    test(s"a checkpoint resumes across managers: $label") {
      Collecting.got.clear()
      val inDir = tempDir("graft-cfm-resume-in")
      val ckDir = tempDir("graft-cfm-resume-ck")
      val (first, second) =
        if (firstSpark) (sparkManagerSession(), spark) else (spark, sparkManagerSession())
      val a = addFile(inDir, "a", 7)
      ship(first, inDir, ckDir)
      val crcs = new File(ckDir, "offsets").list().exists(_.endsWith(".crc"))
      assert(crcs == firstSpark, "each manager writes the checkpoint layout it is known for")
      assert(Collecting.got.asScala.toSeq.sorted == a.sorted)
      val b = addFile(inDir, "b", 5)
      ship(second, inDir, ckDir)
      val got = Collecting.got.asScala.toSeq
      assert(got.sorted == (a ++ b).sorted,
        "every record delivered after the restart, nothing committed re-put")
      assert(new File(ckDir, "commits/1").exists, "the restarted query committed its batch")
    }
  }

  test("checkpointed micro-batches start no process on the stream execution thread") {
    import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
    Collecting.got.clear()
    val starts = new ConcurrentLinkedQueue[(String, String)]() // (thread, command)
    val rs = new RecordingStream()
    rs.enable("jdk.ProcessStart")
    rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) =>
      starts.add((Option(e.getThread).map(_.getJavaName).getOrElse(""), e.getString("command"))))
    rs.startAsync()
    val batches = try {
      val inDir = tempDir("graft-cfm-fork-in")
      val ckDir = tempDir("graft-cfm-fork-ck")
      (0 until 6).foreach(i => addFile(inDir, s"f$i", 20))
      val n = ship(spark, inDir, ckDir, maxFilesPerTrigger = 1)
      // The recording must see a process start, or zero below proves nothing:
      // start one from this thread and wait until it is delivered, which
      // also flushes every event recorded before it.
      new ProcessBuilder("true", "graft-jfr-sentinel").start().waitFor()
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (!starts.asScala.exists(_._2.contains("graft-jfr-sentinel")) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      n
    } finally rs.close()
    assert(starts.asScala.exists(_._2.contains("graft-jfr-sentinel")), "JFR saw the sentinel")
    assert(batches >= 5, s"$batches micro-batches")
    assert(Collecting.got.size == 120)
    val onStream = starts.asScala.filter(_._1.startsWith("stream execution thread"))
    assert(onStream.isEmpty, s"${onStream.size} processes started by the stream thread in " +
      s"$batches micro-batches: ${onStream.groupBy(_._2.takeWhile(_ != ' ')).map {
        case (cmd, s) => s"$cmd x${s.size}" }.mkString(", ")}")
  }
}
