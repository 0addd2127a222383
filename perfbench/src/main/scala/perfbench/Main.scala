package perfbench

import graft.GraftSession
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress
import scala.jdk.CollectionConverters._
import Stats.{Metric, percentile, ratio}

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  * {{{ Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *          --data <dir> --digests <file> --work <dir> --trace-out <file>
  *          --counts <file> --t0-ns <epoch ns at launch> }}}
  *
  * With `--trace 0` the last stdout line carries the end-to-end metrics of
  * untraced runs; with `--trace 1` the per-layer metrics of a traced run.
  */
object Main {
  val Workloads = Seq("ship", "ship_throttled", "rows")

  /** Every per-layer metric with its unit; a layer a workload does not use
    * reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "GraftSession.start_ms" -> "ms",
    "Tables.load_ms" -> "ms", "Tables.load_jobs" -> "count",
    "analytics.build_ms" -> "ms", "analytics.build_jobs" -> "count",
    "ext.build_ms" -> "ms", "ext.build_jobs" -> "count", "ext.onetime_ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "exec.drain_ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
    "exec.sched_wait_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.busy_frac" -> "ratio",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "count",
    "streaming.latestOffset_ms" -> "ms", "streaming.getBatch_ms" -> "ms",
    "streaming.queryPlanning_ms" -> "ms", "streaming.addBatch_ms" -> "ms",
    "streaming.walCommit_ms" -> "ms", "streaming.commitOffsets_ms" -> "ms",
    "streaming.trigger_ms" -> "ms", "streaming.cpu_us_per_event" -> "us",
    "streaming.backlog_max" -> "count",
    "encode.bytes_per_event" -> "bytes", "keys.null_dropped" -> "count",
    "keys.corrupt_dropped" -> "count",
    "sink.calls" -> "count", "sink.records_per_call" -> "count", "sink.put_ms" -> "ms",
    "sink.inflight_max" -> "count", "sink.busy_frac" -> "ratio",
    "sink.retry_records" -> "count", "sink.useful_frac" -> "ratio", "sink.dropped" -> "count",
    "gen.late_ms_max" -> "ms", "jvm.heap_peak_mb" -> "MB", "jvm.gc_ms" -> "ms",
    "trace.overhead_frac" -> "ratio", "dup_frac" -> "ratio", "fail_frac" -> "ratio")

  final case class Outcome(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val t0 = opt("t0-ns").toLong
    val work = Paths.get(opt("work")).toAbsolutePath

    val ts = Clock.now()
    val spark = GraftSession.builder()
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionEnd = Clock.now()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.spans.add("GraftSession.start", ts, sessionEnd, 0L, "session"))
    val ctx = Ctx(spark, workload, seed, seconds, t0, work, tracer, (sessionEnd - ts) / 1e6,
      Paths.get(opt("data")).toAbsolutePath.toString, Paths.get(opt("digests")),
      Paths.get(opt("counts")))

    val out =
      try {
        if (workload.startsWith("ship")) ship(ctx) else rows(ctx)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $workload failed: $e")
          e.printStackTrace()
          Outcome(correct = false, 1, 1, Nil)
      }
    tracer.foreach { t =>
      t.stop()
      t.spans.write(Paths.get(opt("trace-out")))
      t.spans.selfMsByLayer.foreach { case (layer, ms) =>
        println(f"[trace] self time $layer%-14s $ms%12.1f ms")
      }
      println(s"[trace] spans written to ${opt("trace-out")}")
    }
    println(Stats.resultLine(out.correct, out.attempted, out.failed, out.metrics))
    System.out.flush()
    spark.stop()
    sys.exit(if (out.correct) 0 else 1)
  }

  final case class Ctx(spark: SparkSession, workload: String, seed: Long, seconds: Int,
      t0: Long, work: Path, tracer: Option[Tracer], sessionMs: Double, data: String,
      digests: Path, counts: Path) {
    val cores: Int = spark.sparkContext.defaultParallelism
    def setupS(): Double = (Clock.now() - t0) / 1e9
    def say(s: String): Unit = println(s"[$workload] $s")
  }

  /** Compare the exact counts of this traced run with those that an
    * earlier traced run of the same sources and seed left in `ctx.counts`,
    * or leave them there for the next one. Returns the differences. */
  private def repeatAcrossRuns(ctx: Ctx, counts: Seq[(String, Long)]): Seq[String] = {
    val f = ctx.counts
    if (!Files.exists(f)) {
      Files.createDirectories(f.getParent)
      Files.write(f, counts.map { case (k, v) => s"$k\t$v\n" }.mkString.getBytes("UTF-8"))
      ctx.say(s"exact counts written to $f for the next traced run of this seed")
      return Nil
    }
    val before = Files.readAllLines(f).asScala.map(_.split('\t')).map(a => a(0) -> a(1).toLong).toMap
    val now = counts.toMap
    val diff = (before.keySet ++ now.keySet).toSeq.sorted.filter(k => before.get(k) != now.get(k))
      .map(k => s"$k ${before.get(k).fold("-")(_.toString)} != ${now.get(k).fold("-")(_.toString)}")
    if (diff.nonEmpty) ctx.say(s"exact counts differ from the earlier traced run: ${diff.mkString(", ")}")
    else ctx.say(s"exact counts (${counts.size}) repeat those of the earlier traced run of this seed")
    diff
  }

  private def layerMetrics(ctx: Ctx, values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared metrics: $unknown")
    val all = values ++ Map("GraftSession.start_ms" -> ctx.sessionMs,
      "jvm.heap_peak_mb" -> Jvm.heapPeakMb, "jvm.gc_ms" -> Jvm.gcMs)
    PerLayer.map { case (n, u) => Metric(n, all.getOrElse(n, 0.0), u) }
  }

  private def execMetrics(a: ExecAcc, units: Double, wallMs: Double, cores: Int): Map[String, Double] = Map(
    "exec.drain_ms" -> wallMs / units,
    "exec.jobs" -> a.jobs / units, "exec.stages" -> a.stages / units,
    "exec.tasks" -> a.tasks / units, "exec.task_run_ms" -> a.runMs / units,
    "exec.task_cpu_ms" -> a.cpuNs / 1e6 / units, "exec.sched_wait_ms" -> a.schedWaitMs / units,
    "exec.gc_ms" -> a.gcMs / units, "exec.shuffle_read_bytes" -> a.shuffleRead / units,
    "exec.shuffle_write_bytes" -> a.shuffleWrite / units, "exec.spill_bytes" -> a.spill / units,
    "exec.busy_frac" -> ratio(a.runMs, wallMs * cores))

  // ------------------------------------------------------------------ ship

  private def ship(ctx: Ctx): Outcome = {
    import ctx._
    val throttled = workload == "ship_throttled"
    val s = new Ship(spark, seed, seconds, throttled, work.resolve("ship"), tracer)
    s.setup()
    val setup = setupS()
    val timed = (1 to ShipParams.Drains).map(_ => s.drain())
    val drainA = timed.sortBy(_.seconds).apply(timed.size / 2)
    val traced = tracer.map { t =>
      t.start()
      Service.state.spans = t.spans
      val b = s.drain()
      val pb = t.progress.take()
      val c = s.drain()
      t.progress.take() // the open-loop figures below exclude drain C's batches
      (b, pb, c)
    }
    val p2 = s.openLoop(math.max(seconds / 2.0, seconds - timed.map(_.seconds).sum))
    val p2Progress = tracer.map(_.progress.take()).getOrElse(Nil)
    // the same drain untraced again, so traced work is bracketed in time
    val drainD = tracer.map { t => t.stop(); Service.state.spans = null; s.drain() }
    val (nullDropped, corruptDropped) = s.finish()
    val (seedNull, seedCorrupt) = s.seededDrops
    var failed = s.failed
    if (nullDropped != seedNull || corruptDropped != seedCorrupt) {
      say(s"F1/F2 drops: program counted $nullDropped null-key and $corruptDropped corrupt, " +
        s"seeded $seedNull and $seedCorrupt")
      failed += math.abs(nullDropped - seedNull) + math.abs(corruptDropped - seedCorrupt)
    }
    val mismatch = traced.toSeq.flatMap { case (b, _, c) =>
      val pairs = Seq("jobs" -> (b.exec.jobs, c.exec.jobs), "stages" -> (b.exec.stages, c.exec.stages),
        "tasks" -> (b.exec.tasks, c.exec.tasks), "put calls" -> (b.sink.calls, c.sink.calls),
        "records" -> (b.sink.records, c.sink.records),
        "retry records" -> (b.sink.retryRecords, c.sink.retryRecords),
        "drops" -> (b.dropped, c.dropped))
      pairs.collect { case (n, (x, y)) if x != y => s"$n $x != $y" }
    }
    if (mismatch.nonEmpty) say(s"traced drains disagree on exact counts: ${mismatch.mkString(", ")}")
    else if (traced.isDefined) say("exact counts repeat between the two traced drains")
    val acrossRuns = traced.toSeq.flatMap { case (b, _, _) =>
      repeatAcrossRuns(ctx, Seq("drain.jobs" -> b.exec.jobs, "drain.stages" -> b.exec.stages,
        "drain.tasks" -> b.exec.tasks, "drain.put_calls" -> b.sink.calls,
        "drain.records" -> b.sink.records, "drain.retry_records" -> b.sink.retryRecords,
        "drain.drops" -> b.dropped.toLong))
    }
    s.notes.result().foreach(say)
    val failFrac = ratio(s.neverAccepted, s.deliverableTotal)
    val dupFrac = ratio(s.dupAccepts, s.deliverableTotal)
    val correct = failed == 0 && p2.valid && mismatch.isEmpty && acrossRuns.isEmpty
    val lat = p2.latMs
    say(f"setup_s = $setup%.3f s")
    say(f"drain_eps = ${drainA.eps}%.1f events/s, the median of ${timed.size} drains of " +
      f"${drainA.sink.records} records (${timed.map(d => f"${d.seconds}%.3f").mkString(", ")} s)")
    if (lat.nonEmpty) {
      val ticks = p2.tickLatMs.count(_.nonEmpty)
      say(f"ack_p50_ms = ${p2.tickMedian(50)}%.2f ms, ack_p90_ms = ${p2.tickMedian(90)}%.2f ms: " +
        f"medians over $ticks ticks of each tick's p50 and p90 (${lat.size} events at ${ShipParams.RateEps} events/s)")
      say(f"over all events: p50 ${percentile(lat, 50)}%.2f, p90 ${percentile(lat, 90)}%.2f, " +
        f"p99 ${percentile(lat, 99)}%.2f, max ${lat.max}%.2f ms")
    }
    say(f"dup_frac = $dupFrac%.6f ratio")
    say(f"fail_frac = $failFrac%.6f ratio (${s.neverAccepted} of ${s.deliverableTotal} deliverable events never accepted)")
    say(f"gen.late_ms_max = ${p2.lateMsMax}%.2f ms, streaming.backlog_max = ${p2.backlogMax} events")
    if (!p2.valid || lat.isEmpty)
      return Outcome(correct = false, s.attempted, failed, Nil)

    tracer match {
      case None =>
        Outcome(correct, s.attempted, failed, Seq(
          Metric("setup_s", setup, "s"),
          Metric("rate_per_s", drainA.eps, "1/s"),
          // per-tick percentiles, then the median over the ticks: a run
          // holds only six or seven micro-batches of open-loop events, so a
          // pooled high percentile would be the slowest one alone
          Metric("p50_ms", p2.tickMedian(50), "ms"),
          Metric("tail_ms", p2.tickMedian(90), "ms")))
      case Some(_) =>
        val (b, pb, c) = traced.get
        val data = pb.filter(_.numInputRows > 0)
        val p2Data = p2Progress.filter(_.numInputRows > 0)
        def dur(ps: Seq[StreamingQueryProgress], k: String): Double =
          if (ps.isEmpty) 0.0 else ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum / ps.size
        val batches = math.max(1, data.size).toDouble
        val lines = ShipParams.BacklogFiles * ShipParams.EventsPerBacklogFile
        val exec = execMetrics(b.exec, batches, dur(data, "addBatch") * data.size, cores)
        val d = drainD.get
        val overhead = (b.seconds + c.seconds) / (timed.last.seconds + d.seconds) - 1
        say(f"trace.overhead_frac = $overhead%.4f (traced drains ${b.seconds}%.3f and ${c.seconds}%.3f s, " +
          f"untraced ${timed.last.seconds}%.3f and ${d.seconds}%.3f s)")
        Outcome(correct, s.attempted, failed, layerMetrics(ctx, exec ++ Map(
          "streaming.batches" -> data.size.toDouble,
          "streaming.rows_per_batch" -> ratio(data.map(_.numInputRows).sum, data.size),
          "streaming.latestOffset_ms" -> dur(p2Data, "latestOffset"),
          "streaming.getBatch_ms" -> dur(p2Data, "getBatch"),
          "streaming.queryPlanning_ms" -> dur(p2Data, "queryPlanning"),
          "streaming.addBatch_ms" -> dur(p2Data, "addBatch"),
          "streaming.walCommit_ms" -> dur(p2Data, "walCommit"),
          "streaming.commitOffsets_ms" -> dur(p2Data, "commitOffsets"),
          "streaming.trigger_ms" -> dur(p2Data, "triggerExecution"),
          "streaming.cpu_us_per_event" -> b.exec.cpuNs / 1e3 / lines,
          "streaming.backlog_max" -> p2.backlogMax.toDouble,
          "encode.bytes_per_event" -> s.payloadBytesPerEvent,
          "keys.null_dropped" -> nullDropped.toDouble,
          "keys.corrupt_dropped" -> corruptDropped.toDouble,
          "sink.calls" -> b.sink.calls.toDouble,
          "sink.records_per_call" -> ratio(b.sink.records, b.sink.calls),
          "sink.put_ms" -> ratio(b.sink.putNanos / 1e6, b.sink.calls),
          "sink.inflight_max" -> b.sink.inflightMax.toDouble,
          "sink.busy_frac" -> ratio(b.sink.putNanos / 1e9, b.seconds * cores),
          "sink.retry_records" -> b.sink.retryRecords.toDouble,
          "sink.useful_frac" -> ratio(b.sink.firstAccepts, b.sink.records),
          "sink.dropped" -> b.dropped.toDouble,
          "gen.late_ms_max" -> p2.lateMsMax,
          "trace.overhead_frac" -> overhead,
          "dup_frac" -> dupFrac, "fail_frac" -> failFrac)))
    }
  }

  // ------------------------------------------------------------------ rows

  private def rows(ctx: Ctx): Outcome = {
    import ctx._
    val names = RowsParams.All
    val r = new Rows(spark, data, names, RowsParams.Onetime, seed, Digest.load(digests), tracer, say)
    r.setup()
    val setup = setupS()
    say(f"setup_s = $setup%.3f s (session ${sessionMs}%.0f ms, one-time builds ${r.onetimeMs}%.0f ms, " +
      f"warm-up pass ${r.warmupMs}%.0f ms)")
    tracer match {
      case None =>
        // whole passes, so every run samples each row equally often: at
        // least two, then stop once another pass would overshoot --seconds
        // by more than half a pass
        val tm = System.nanoTime()
        val execs = Seq.newBuilder[Exec]
        var p = 0
        var last = 0L
        while (p < 2 || System.nanoTime() - tm + last / 2 < seconds * 1000000000L) {
          val t = System.nanoTime()
          val pe = r.pass(p); execs ++= pe; p += 1
          last = System.nanoTime() - t
          say(f"pass $p: ${last / 1e9}%.3f s")
        }
        val es = execs.result()
        val failed = es.count(!_.ok).toLong
        val rate = es.size / es.map(_.seconds).sum
        // Each row's median execution time, then p50 over the q rows
        // (construction, Tables, planning) and p90 over the ext rows
        // (execution), so each layer group sets its own metric. A run holds
        // only a few executions of each row: a percentile pooled over all of
        // them is set by one or two executions of whichever row sits there.
        val rowMedian = es.groupBy(_.name).map { case (n, xs) => n -> Stats.median(xs.map(_.seconds)) }
        val qRows = RowsParams.Analytics.map(rowMedian)
        val extRows = RowsParams.Ext.map(rowMedian)
        say(f"rows_per_s = $rate%.3f rows/s ($p passes of ${names.size} rows)")
        say(f"row_p50_s = ${percentile(qRows, 50)}%.4f s over the medians of ${qRows.size} q rows, " +
          f"row_p90_s = ${percentile(extRows, 90)}%.4f s over the medians of ${extRows.size} ext rows")
        say(f"fail_frac = ${ratio(failed, es.size)}%.4f ratio")
        say("per-row median s: " + rowMedian.toSeq.sorted.map { case (n, m) => f"$n=$m%.3f" }.mkString(" "))
        Outcome(failed == 0, es.size, failed, Seq(
          Metric("setup_s", setup, "s"),
          Metric("rate_per_s", rate, "1/s"),
          Metric("p50_ms", percentile(qRows, 50) * 1000, "ms"),
          Metric("tail_ms", percentile(extRows, 90) * 1000, "ms")))
      case Some(t) =>
        val before = r.pass(0)
        t.start()
        val t1 = r.tracedPass(1)
        val t2 = r.tracedPass(2)
        val tables = r.tablesRead()
        val (loadMs, loadJobs) = r.tableLoads(tables)
        t.stop()
        // untraced passes before and after bracket the traced ones in time
        val untraced = before ++ r.pass(3)
        def counts(x: RowTrace) = (x.buildJobs, x.drain.jobs, x.drain.stages, x.drain.tasks)
        val c2 = t2.map(x => x.exec.name -> counts(x)).toMap
        val mismatch = t1.filter(x => c2(x.exec.name) != counts(x))
          .map(x => s"${x.exec.name} ${counts(x)} != ${c2(x.exec.name)}")
        if (mismatch.nonEmpty) say(s"traced passes disagree on exact counts: ${mismatch.mkString("; ")}")
        else say("exact counts (build jobs, jobs, stages, tasks per row) repeat between the two traced passes")
        val acrossRuns = repeatAcrossRuns(ctx, t1.sortBy(_.exec.name).flatMap { x =>
          val (bj, j, st, tk) = counts(x)
          val n = x.exec.name
          Seq(s"$n.build_jobs" -> bj, s"$n.jobs" -> j, s"$n.stages" -> st, s"$n.tasks" -> tk)
        })
        val all = untraced ++ t1.map(_.exec) ++ t2.map(_.exec)
        val failed = all.count(!_.ok).toLong
        val overhead = (t1 ++ t2).map(_.exec.seconds).sum / untraced.map(_.seconds).sum - 1
        say(f"trace.overhead_frac = $overhead%.4f")
        say(s"tables read: ${tables.mkString(", ")}")
        val n = t1.size.toDouble
        val drainAcc = new ExecAcc
        t1.foreach(x => drainAcc += x.drain)
        def build(layer: String): Map[String, Double] = {
          val xs = t1.filter(x => r.layerOf(x.exec.name) == layer)
          Map(s"$layer.build_ms" -> xs.map(_.exec.buildNs / 1e6).sum / xs.size,
            s"$layer.build_jobs" -> xs.map(_.buildJobs).sum.toDouble / xs.size)
        }
        val m = execMetrics(drainAcc, n, t1.map(_.exec.drainNs / 1e6).sum, cores) ++
          build("analytics") ++ build("ext") ++ Map(
          "Tables.load_ms" -> loadMs, "Tables.load_jobs" -> loadJobs,
          "ext.onetime_ms" -> r.onetimeMs,
          "plan.analysis_ms" -> t1.map(_.plan._1).sum / n,
          "plan.optimization_ms" -> t1.map(_.plan._2).sum / n,
          "plan.planning_ms" -> t1.map(_.plan._3).sum / n,
          "trace.overhead_frac" -> overhead,
          "fail_frac" -> ratio(failed, all.size))
        Outcome(failed == 0 && mismatch.isEmpty && acrossRuns.isEmpty, all.size, failed, layerMetrics(ctx, m))
    }
  }
}
