package graft.streaming

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField,
  StructType}

import graft.ext.TextOps._

/** Streaming corpus intake with curation — the readStream twin of the batch
  * c05 pipeline, restricted to the stages whose state is streaming-safe:
  *
  *   1. quality gate (token count) — stateless filter;
  *   2. benchmark decontamination — stateless per-row n-gram-hash probe
  *      against the eval-set gram set, in one of two size-adaptive physical
  *      forms (see [[BenchGrams]]);
  *   3. exact dedup on the md5 digest via `dropDuplicatesWithinWatermark` —
  *      the only stateful stage, state = one digest per distinct doc inside
  *      the watermark horizon.
  *
  * Scale notes: stage 2's gram set never holds driver memory hostage — above
  * [[CurationStream.benchmarkGrams]]'s `maxExactGrams` the set is a
  * fixed-size Bloom filter built by a DISTRIBUTED aggregation (only the
  * serialized sketch, sized by `fpp` alone, crosses the driver), shipped as
  * a BROADCAST (the per-micro-batch plan stays sketch-size-free) and probed
  * by a codegen'd short-circuit expression
  * ([[graft.functions.BloomBroadcastContainsAny]]); below it the exact
  * plan-literal hash array is cheaper (no per-element hashing). Dedup state
  * is bounded by the watermark, not the stream length — the standard trade:
  * only duplicates arriving within the horizon collapse.
  *
  * STREAMED STORES. Every `*Batch` writer here is a `foreachBatch` body
  * that maintains one on-disk store, and every store keeps one protocol,
  * implemented once by the private `Store` helper:
  *
  *   - Layout: parquet partitions `batch=<id>/` (the two monitor series use
  *     `report=<id>/`), epoch markers `_fence/epoch-<n>`, parameter files
  *     `_meta.<key>`, and — only while a compaction runs or after it
  *     crashed — a temp partition `.compact-<id>/` and an aside copy
  *     `.old-<id>/`. Readers see only the partitions.
  *   - Lock: writers, readers and compactors of a store serialize on a
  *     per-directory JVM lock (the supported shape: `foreachBatch` and
  *     maintenance compaction run on the stream's driver), so a heal never
  *     catches a same-JVM compaction between its renames.
  *   - Fence: a compactor in ANOTHER process is held off by epochs. Every
  *     writer and compactor acquires the next `epoch-<n>` by atomic
  *     create-new. The writer never yields (the stream owns its store); a
  *     compactor re-checks the highest epoch before each destructive step
  *     and aborts, returning false, when a writer moved under it. An abort
  *     leaves duplicated rows at worst, never lost ones.
  *   - Heal: before every write, read and compaction, an interrupted
  *     compaction is recovered: an `.old-<id>` whose partition is missing
  *     is renamed back, one whose partition exists is deleted, and
  *     `.compact-<id>` temps are deleted.
  *   - Verified write: a writer rewrites exactly its own `batch=<id>`
  *     (deleting it when the batch has no rows), then checks the partition
  *     is there (or gone) and re-writes if a lagging compactor delete — the
  *     one check-then-act window the fence cannot close — removed it. A
  *     replayed micro-batch thus leaves the store as its first attempt did:
  *     the idempotent-sink condition of `foreachBatch`.
  *   - Compaction and its manifest: `compact*` merges every partition below
  *     a batch id into one named after the highest merged id — merge into
  *     `.compact-<max>` with a `_merged` manifest of the folded ids, rename
  *     `batch=<max>` aside, rename the temp into place, then delete the
  *     aside, the folded partitions and the manifest. Readers skip every
  *     partition a present manifest lists, so a crash after the commit
  *     rename neither double-counts the sum-merged stores nor duplicates
  *     rows (Spark's reader skips `_`-prefixed files).
  *   - Precondition: give a compactor only the streaming checkpoint's
  *     committed horizon. A committed micro-batch is never replayed; a
  *     replayed batch below the horizon would see its own rows (the
  *     near-dup index drops its own documents) or be counted twice (the
  *     count and stat stores).
  */
object CurationStream {

  /** Physical form of the decontamination gram set — the adoption seam
    * between the exact small-suite path and the Bloom scale path, mirroring
    * the batch `*Auto` operators' size switch. */
  sealed trait BenchGrams

  /** Exact distinct gram hashes, folded into the plan as a literal array and
    * probed with `array_intersect`. Right below ~10⁵ grams: exact (no false
    * drops) and cheaper per row than bloom hashing. */
  final case class ExactGrams(hashes: Seq[Long]) extends BenchGrams

  /** Serialized Spark [[org.apache.spark.util.sketch.BloomFilter]] over the
    * gram hashes — the scale path for multi-million-gram decontamination
    * corpora. Size is governed by `fpp` alone (≈ 1.44·log₂(1/fpp) bits per
    * gram — e.g. 10M grams at fpp 1e-6 ≈ 34 MiB), independent of gram-string
    * length.
    *
    * FPR bound: `fpp` is PER PROBED GRAM, so a clean document with G distinct
    * n-grams is falsely dropped with probability ≤ 1 − (1 − fpp)^G ≈ G·fpp
    * (decontamination errs toward dropping, never toward leaking benchmark
    * text — there are NO false negatives). At the default fpp 1e-6, a
    * 10k-gram document's false-drop probability is ≤ 1%. */
  final case class BloomGrams(bytes: Array[Byte], fpp: Double, nGrams: Long)
    extends BenchGrams {
    // Array[Byte] equality is reference-based; value semantics for a case
    // class holding the sketch bytes need the content compare
    override def equals(o: Any): Boolean = o match {
      case that: BloomGrams => java.util.Arrays.equals(bytes, that.bytes) &&
        fpp == that.fpp && nGrams == that.nGrams
      case _ => false
    }
    override def hashCode(): Int =
      (java.util.Arrays.hashCode(bytes), fpp, nGrams).hashCode()
  }

  /** Distinct 60-bit gram hashes of a benchmark table — the c01 n-gram
    * hashing as a DataFrame (no driver materialization). */
  private def gramHashes(benchmark: DataFrame, textCol: String, n: Int): DataFrame =
    benchmark
      .withColumn("__tk", toks(col(textCol)))
      .select(explode_outer(array_distinct(ngramsExact(col("__tk"), n))).as("__ng"))
      .filter(col("__ng").isNotNull)
      .select(h60(col("__ng")).as("__gh")).distinct()

  /** Size-adaptive benchmark gram set: exact hashes for small eval suites
    * (≤ `maxExactGrams` distinct grams), a Bloom filter past it. The switch
    * is measured from the actual distinct-gram count — one aggregation
    * either way; the bloom build is a distributed `stat.bloomFilter`
    * aggregation whose driver-side footprint is the serialized sketch only. */
  def benchmarkGrams(benchmark: DataFrame, textCol: String, n: Int = 8,
      maxExactGrams: Long = 100000L, fpp: Double = 1e-6): BenchGrams = {
    import benchmark.sparkSession.implicits._
    val grams = gramHashes(benchmark, textCol, n)
    val cnt = grams.count()
    if (cnt <= maxExactGrams)
      ExactGrams(grams.as[Long].collect().toSeq)
    else {
      val bf = grams.stat.bloomFilter("__gh", math.max(cnt, 1L), fpp)
      val bos = new ByteArrayOutputStream()
      bf.writeTo(bos)
      BloomGrams(bos.toByteArray, fpp, cnt)
    }
  }

  /** Apply the three curation stages to a streaming `docs` frame that
    * already carries a watermark (required by the dedup stage). Column
    * `text` is read; all input columns pass through (plus `n_tok`). */
  def curate(docs: DataFrame, bench: BenchGrams, minTokens: Int,
      n: Int = 8): DataFrame = {
    val clean: Column = bench match {
      case ExactGrams(hashes) =>
        size(array_intersect(col("__ghs"), typedLit(hashes))) === 0
      case b: BloomGrams =>
        // sketch behind a broadcast handle, not a plan literal — in
        // streaming doubly important: the plan is re-serialized per
        // micro-batch, the broadcast ships once
        val bc = docs.sparkSession.sparkContext.broadcast(b.bytes)
        !graft.functions.BloomExprs.containsAnyBroadcast(bc, col("__ghs"))
    }
    docs
      .withColumn("__tk", toks(col("text")))
      .withColumn("n_tok", size(col("__tk")).cast("long"))
      .filter(col("n_tok") >= minTokens)
      // materialized: same 17×-at-sf1.0 hazard as decontaminateBloom — the
      // decontamination filter must probe the computed gram attribute, not a
      // pushdown-inlined copy whose token array re-evaluates per gram
      .withColumn("__ghs", graft.functions.Materialize.materialized(
        transform(array_distinct(ngramsExact(col("__tk"), n)), g => h60(g))))
      .filter(clean)
      .withColumn("__digest", md5(col("text")))
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__tk", "__ghs", "__digest")
  }

  /** Exact-hash-set entry point (kept for small in-code suites; prefer
    * [[benchmarkGrams]] + the [[BenchGrams]] overload, which picks the
    * physical form by measured size). */
  def curate(docs: DataFrame, benchHashes: Seq[Long], minTokens: Int,
      n: Int): DataFrame =
    curate(docs, ExactGrams(benchHashes), minTokens, n)

  // ------------------------------------------------------- store protocol
  /** Per-directory JVM locks of the store protocol (object scaladoc), keyed
    * on the directory string as given. */
  private val indexLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(dir: String): Object =
    indexLocks.computeIfAbsent(dir, _ => new Object)

  /** The `<prefix><id>` id of a store entry, if it is one. */
  private def idOf(p: Path, prefix: String): Option[Long] =
    Option(p.getName).filter(_.startsWith(prefix))
      .flatMap(_.stripPrefix(prefix).toLongOption)

  /** One store directory and the protocol of the object scaladoc — the only
    * code in this file that touches the filesystem. `prefix` names the
    * partitions: `batch=`, or `report=` for the monitor series. */
  private final class Store(spark: SparkSession, dir: String,
      prefix: String = "batch=") {
    private val root = new Path(dir)
    private val fs: FileSystem =
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val Manifest = "_merged"
    private def part(id: Long) = new Path(root, s"$prefix$id")

    def lock: Object = lockFor(dir)
    def exists: Boolean = fs.exists(root)
    def sub(name: String): Store = new Store(spark, s"$dir/$name", prefix)

    /** The one writer: under the lock, [[open]], then a verified write of
      * exactly `<prefix><batchId>` holding `rows`, which is computed from
      * the healed store (an empty frame deletes the partition). */
    def writeBatch(batchId: Long, what: String, sortCols: Seq[String] = Nil,
        meta: Seq[(String, Long)] = Nil, onWrite: () => Unit = () => ())
        (rows: => DataFrame): Unit =
      lock.synchronized {
        open(meta: _*)
        write(batchId, Some(rows), sortCols, what, onWrite)
      }

    /** The writer's steps before its write; the caller holds the lock.
      * The fence comes first: from here on, a compactor holding an older
      * epoch aborts at its next check. */
    def open(meta: (String, Long)*): Unit = {
      fs.mkdirs(root)
      Fence.acquire()
      requireMeta(meta: _*)
      healCompaction()
    }

    /** Rewrite exactly `<prefix><batchId>` — or delete it when `rows` is
      * None or empty — and re-check until the result survives a lagging
      * compactor delete. Each compaction run deletes a partition at most
      * once, so one re-write converges; the bound guards against a stack of
      * broken compactors. Sort columns make the write range-partitioned and
      * sorted, so each row group covers a narrow key slice that a pushed
      * filter skips by its stats. `onWrite` is a test seam run after each
      * attempt (the fencing spec injects the racing delete there). */
    def write(batchId: Long, rows: Option[DataFrame], sortCols: Seq[String],
        what: String, onWrite: () => Unit): Unit = {
      val target = part(batchId)
      val live = rows.filterNot(_.isEmpty)
      val by = sortCols.map(col)
      var attempts = 0
      var settled = false
      while (!settled) {
        attempts += 1
        require(attempts <= 5,
          s"$what: $prefix$batchId partition kept disappearing under " +
            "concurrent compaction — external coordination is broken")
        live match {
          case Some(df) =>
            (if (by.isEmpty) df
             else df.repartitionByRange(by: _*).sortWithinPartitions(by: _*))
              .write.mode("overwrite").parquet(target.toString)
          case None => fs.delete(target, true): Unit
        }
        onWrite()
        settled =
          if (live.isDefined) fs.exists(new Path(target, "_SUCCESS"))
          else !fs.exists(target)
      }
    }

    /** The one reader: the union of the partitions with id < `below` that
      * no present manifest lists as folded, after a heal; None when there
      * is none. Reads each partition as its own path, so no
      * partition-discovery column is added. */
    def read(below: Long = Long.MaxValue): Option[DataFrame] =
      readParts(listing()._1.filter(_._1 < below))

    private def readParts(parts: Seq[(Long, Path)]): Option[DataFrame] =
      if (parts.isEmpty) None
      else Some(spark.read.parquet(parts.map(_._2.toString): _*))

    /** Under the lock: heal, then (live partitions in id order, partitions
      * a present manifest lists as folded into another). */
    private def listing(): (Seq[(Long, Path)], Seq[(Long, Path)]) =
      lock.synchronized {
        if (!fs.exists(root)) (Nil, Nil)
        else {
          healCompaction()
          val parts = fs.listStatus(root).toSeq.filter(_.isDirectory)
            .flatMap(s => idOf(s.getPath, prefix).map(_ -> s.getPath))
            .sortBy(_._1)
          val folded = parts.map(p => new Path(p._2, Manifest)).filter(fs.exists)
            .flatMap(m => readText(m).split('\n').flatMap(_.trim.toLongOption)).toSet
          parts.partition(p => !folded(p._1))
        }
      }

    /** Compact every partition below `upto` into one named after the
      * highest merged id (object scaladoc): `merge` folds their union.
      * Folded partitions a crashed run left behind are deleted. `onStep`
      * is the test seam the crash and fencing specs throw from or race in:
      * "merged", "aside", "committed", and "fenced" on abort. Returns false
      * when a writer fenced the run, true when it committed or had nothing
      * to merge. */
    def compact(upto: Long, onStep: String => Unit)
        (merge: DataFrame => DataFrame): Boolean = lock.synchronized {
      val (liveAll, foldedAll) = listing()
      if (liveAll.isEmpty && foldedAll.isEmpty) return true
      val myEpoch = Fence.acquire()
      def fenced: Boolean = Fence.maxEpoch() != myEpoch
      val live = liveAll.filter(_._1 < upto)
      val folded = foldedAll.filter(_._1 < upto)
      // folded leftovers go first: while any exists, the partition whose
      // manifest lists it does too. Deleting stops at the first fence — a
      // writer that moved may own what is left.
      def cleanUp(originals: Seq[Path], merged: Seq[Path]): Boolean = {
        val clean = (folded.map(_._2) ++ originals).forall { p =>
          if (fenced) { onStep("fenced"); false } else { fs.delete(p, true); true }
        }
        if (clean) merged.foreach(m => fs.delete(new Path(m, Manifest), false))
        clean
      }
      if (live.length < 2) return cleanUp(Nil, live.map(_._2))
      val maxId = live.map(_._1).max
      val tmp = new Path(root, s".compact-$maxId")
      merge(readParts(live).get).write.mode("overwrite").parquet(tmp.toString)
      writeText(new Path(tmp, Manifest),
        (live ++ folded).map(_._1).filter(_ != maxId).mkString("\n"))
      onStep("merged")
      val target = part(maxId)
      val aside = new Path(root, s".old-$maxId")
      if (fenced) { fs.delete(tmp, true); onStep("fenced"); return false }
      require(fs.rename(target, aside),
        s"compaction: rename $target -> $aside failed")
      onStep("aside")
      // RawLocalFileSystem THROWS on a missing source where HDFS returns
      // false — a fencing writer's heal can legally remove our source
      // (restore the aside, delete the tmp), so both mean "not renamed"
      def tryRename(src: Path, dst: Path): Boolean =
        try fs.rename(src, dst) catch { case _: java.io.IOException => false }
      if (fenced) {
        // roll the aside back — one rename, loss-free; the writer that
        // fenced us may have restored the target in its own heal already
        if (!tryRename(aside, target)) require(fs.exists(target),
          s"compaction: fenced rollback failed and $target is missing")
        fs.delete(tmp, true); onStep("fenced"); return false
      }
      if (!tryRename(tmp, target)) {
        // a fencing writer's heal restored the aside between the check and
        // the rename — orderly abort (tmp is re-built next run)
        require(fs.exists(target),
          s"compaction: rename $tmp -> $target failed; original kept in $aside")
        fs.delete(tmp, true); onStep("fenced"); return false
      }
      onStep("committed")
      // the merged partition now holds every folded row and its manifest
      // hides the originals; a writer that fences us from here on keeps
      // them until the next run (healCompaction deletes the shadowed aside)
      if (fenced) { onStep("fenced"); return false }
      fs.delete(aside, true)
      cleanUp(live.collect { case (id, p) if id != maxId => p }, Seq(target))
    }

    /** The epoch manifest `_fence/epoch-<n>` of the object scaladoc. */
    private object Fence {
      private val fenceDir = new Path(root, "_fence")
      private def epochs(): Seq[(Long, Path)] =
        if (!fs.exists(fenceDir)) Nil
        else fs.listStatus(fenceDir).toSeq
          .flatMap(s => idOf(s.getPath, "epoch-").map(_ -> s.getPath))

      /** Highest acquired epoch, 0 if none. */
      def maxEpoch(): Long = epochs().map(_._1).foldLeft(0L)(math.max)

      /** Acquire the next epoch by atomic create-new of `epoch-<n>` (O_EXCL
        * locally, create(overwrite=false) on HDFS — the one compare-and-set
        * object stores and HDFS share), bumping n past racing losers.
        * Markers older than the previous 8 are pruned; a few are kept so a
        * concurrent [[maxEpoch]] never lists an empty manifest. */
      def acquire(): Long = {
        fs.mkdirs(fenceDir)
        var e = maxEpoch() + 1
        while (!(try { fs.create(new Path(fenceDir, s"epoch-$e"), false).close(); true }
            catch { case _: java.io.IOException => false })) e += 1
        epochs().foreach { case (n, p) => if (n < e - 8) fs.delete(p, false) }
        e
      }
    }

    /** Recover an interrupted compaction: an `.old-<id>` aside whose
      * partition exists is redundant (the merged partition holds it) and
      * is deleted; one whose partition is missing hit the aside→commit
      * window and is renamed back, losing nothing. `.compact-<id>` temps
      * are deleted and re-built by the next compaction. One listing. */
    private def healCompaction(): Unit = {
      val dirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      dirs.filter(_.getName.startsWith(".old-")).foreach { aside =>
        val target = new Path(root, prefix + aside.getName.stripPrefix(".old-"))
        if (fs.exists(target)) fs.delete(aside, true)
        else require(fs.rename(aside, target),
          s"healCompaction: restore $aside -> $target failed")
      }
      dirs.filter(_.getName.startsWith(".compact-"))
        .foreach(p => fs.delete(p, true))
    }

    /** The value under `_meta.<key>`; an absent or empty file (the legacy
      * create-then-write crash remnant) reads as None. */
    def meta(key: String): Option[String] = {
      val p = new Path(root, s"_meta.$key")
      if (!fs.exists(p)) None else Option(readText(p).trim).filter(_.nonEmpty)
    }

    /** Persist-or-check integer parameters fixed at store creation (a
      * bucket width, banding parameters): the first batch records each as
      * `_meta.<key>`, every later batch must match and fails loudly
      * otherwise — a stream cannot re-bucket retroactively. The value is
      * written under a temp name and published by an atomic rename, so the
      * visible file is never partial; an empty file (the legacy crash
      * shape) is deleted and re-published. The caller holds the lock, so a
      * first-write race is only the cross-process first-batch case: the
      * loser's rename fails and it compares against the winner's value. */
    def requireMeta(kvs: (String, Long)*): Unit = kvs.foreach { case (key, value) =>
      val p = new Path(root, s"_meta.$key")
      var recorded = meta(key)
      var attempts = 0
      while (recorded.isEmpty) {
        attempts += 1
        require(attempts <= 5,
          s"_meta.$key under $root could not be published after 5 attempts - " +
            "the filesystem keeps surfacing an empty or vanishing meta file")
        // only a zero-length file is the crash remnant (whitespace-only
        // content cannot come from the atomic publish)
        if (fs.exists(p) && fs.getFileStatus(p).getLen == 0) fs.delete(p, false): Unit
        val tmp = new Path(root, s"._meta.$key.tmp-${java.util.UUID.randomUUID}")
        writeText(tmp, value.toString)
        if (fs.exists(p) || !fs.rename(tmp, p)) fs.delete(tmp, false): Unit
        recorded = meta(key)
      }
      require(recorded.contains(value.toString),
        s"index at $root was created with $key=${recorded.getOrElse("")} but " +
          s"this batch offers $key=$value - a stream cannot re-bucket " +
          "retroactively; a parameter change is a NEW index")
    }

    private def readText(p: Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }

    private def writeText(p: Path, s: String): Unit = {
      val out = fs.create(p, true)
      try out.write(s.getBytes(UTF_8)) finally out.close()
    }
  }

  /** An empty frame of the given schema — the no-state source of the
    * reports, fed through the same plan as the non-empty path so both
    * always agree on the output schema. */
  private def emptyFrame(spark: SparkSession, fields: (String, DataType)*): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(fields.map { case (n, t) => StructField(n, t) }))

  // ------------------------------------------------- incremental near-dup
  /** Incremental MinHash near-dup dedup for a STREAM, as a `foreachBatch`
    * body: each micro-batch (1) greedily dedups within itself
    * ([[graft.ext.DedupOps.dropNearDuplicatesMinhash]]'s smallest-id-wins
    * contract), (2) drops any remaining doc whose band signature collides
    * with a KEPT doc of an EARLIER batch (first-seen wins — arrival order is
    * the greedy order across batches), and (3) writes the survivors'
    * postings as its `batch=<id>` partition of the signature index,
    * (band, bsig)-sorted. A replay reads only the partitions strictly below
    * its own id, so it never sees its own earlier attempt.
    *
    * This is deliberately the stream-to-batch production shape, not a
    * chained stateful operator: Spark restricts stateful-after-stateful
    * chains, while a columnar signature index is unbounded-corpus-scale
    * state that restarts resume from, other jobs can read, and a compaction
    * job can rewrite. Per micro-batch cost: one signature aggregation over
    * the batch and one (band, bsig)-keyed join against the index — the
    * index side is pruned to distinct signatures and AQE broadcasts it
    * while it fits; past that it is a plain keyed shuffle join.
    *
    * Returns the surviving rows of `batch` (all columns). Wire it as:
    * {{{
    * docs.writeStream.foreachBatch { (b, id) =>
    *   val kept = CurationStream.nearDedupBatch(indexDir, "doc_id", "text")(b, id)
    *   sink(kept)    // deliver survivors wherever the pipeline sends them
    * }.start()
    * }}} */
  /** Probed-signature cap for the index-scan pruning path: the batch's
    * distinct band signatures are collected driver-side (micro-batch-bounded
    * state, the same order of magnitude as broadcasting the batch) and pushed
    * down the index scan as exact parquet `In` filters. Past the cap the
    * plain keyed join stands alone — correctness never depends on the
    * prefilter. */
  private val MaxProbeSigs = 8192

  /** Values per pushed `In` filter — see [[graft.Pushdown]]: the probe
    * splits its sorted signatures into ≤256-value chunks, one scan branch
    * per chunk (disjoint, so a plain union), keeping every pushed filter's
    * recursive Or-chain shallow while the union of branches still touches
    * only the row groups holding probed signatures. */
  private val ProbeInChunk = graft.Pushdown.InChunk

  def nearDedupBatch(indexDir: String, idCol: String, textCol: String,
      bands: Int = 4, rowsPerBand: Int = 4, shingleLen: Int = 3,
      onWrite: () => Unit = () => ())
      (batch: DataFrame, batchId: Long): DataFrame = {
    import graft.ext.DedupOps
    // the minhash window-agg and posting build each feed several actions
    // (emptiness check, index write, the caller's sink) — persist both so
    // the expensive aggregations run once per micro-batch, and hand the
    // caller an eagerly-materialized result whose lineage no longer
    // references the persisted parents (so they can be freed here)
    val inBatch = DedupOps.dropNearDuplicatesMinhash(
      batch, idCol, textCol, bands, rowsPerBand, shingleLen).persist()
    val posts = DedupOps.bandPostings(
      inBatch, idCol, textCol, bands, rowsPerBand, shingleLen).persist()
    val spark = batch.sparkSession
    // Raise the In-pushdown threshold past the chunk size so the exact
    // per-value form reaches parquet, where row-group stats + dictionaries
    // on the (band,bsig)-sorted index skip every group holding none of the
    // probed signatures: per-batch index IO scales with the BATCH, not the
    // index. STICKY (see graft.Pushdown): a per-batch set/restore raced
    // concurrent streams on the same session.
    graft.Pushdown.ensureInThreshold(spark)
    val store = new Store(spark, indexDir)
    var kept: DataFrame = null
    try store.writeBatch(batchId, "nearDedupBatch", Seq("band", "bsig"),
        onWrite = onWrite) {
      val survivors = store.read(below = batchId) match {
        case Some(idx) =>
          val probeSigs = posts.select(col("bsig")).distinct()
            .limit(MaxProbeSigs + 1).collect().map(_.getString(0)).toSeq
          val pruned =
            if (probeSigs.isEmpty) idx.filter(lit(false)) // no-data batch
            else if (probeSigs.length <= MaxProbeSigs)
              probeSigs.sorted.grouped(ProbeInChunk)
                .map(chunk => idx.filter(col("bsig").isInCollection(chunk)))
                .reduce(_ union _)
            else idx
          val dropIds = posts
            .join(pruned.select(col("band"), col("bsig")).distinct(), Seq("band", "bsig"))
            .select(col("__id")).distinct()
          inBatch.join(dropIds.withColumnRenamed("__id", idCol), Seq(idCol), "left_anti")
        case None => inBatch
      }
      // localCheckpoint, not persist(MEMORY_AND_DISK): the caller gets the
      // survivors after the lock is released, when a compaction may rename
      // the index files their lineage reads and the persisted parents are
      // freed. The price of dropping lineage — a lost executor block fails
      // the caller's batch, which the stream replays — is bounded by the
      // micro-batch, which is all the survivors can hold.
      kept = survivors.localCheckpoint(true)
      posts.join(kept.select(col(idCol).as("__id")), Seq("__id"), "left_semi")
    } finally {
      posts.unpersist(false)
      inBatch.unpersist(false)
    }
    kept
  }

  /** Compact the [[nearDedupBatch]] signature index: merge every partition
    * strictly below `uptoBatchId` into one, keeping the (band, bsig) sort
    * the per-batch probe prunes on. Every merged id is below any future
    * batch id, so future batches still see all compacted postings.
    * Committed-horizon precondition: see the object scaladoc. */
  def compactIndex(spark: SparkSession, indexDir: String,
      uptoBatchId: Long, onStep: String => Unit = _ => ()): Boolean =
    new Store(spark, indexDir).compact(uptoBatchId, onStep)(
      _.sort(col("band"), col("bsig")))

  /** Compact the [[tokenCountsBatch]] count state: a SUM-aggregated merge,
    * so the state shrinks to one row per (group, token). The
    * committed-horizon precondition is correctness-critical here: a
    * replayed batch below the horizon would be counted in its own
    * partition and in the merged one, and counts do not absorb duplicates
    * the way the index's distinct-probed postings do. */
  def compactCounts(spark: SparkSession,
      countsDir: String, uptoBatchId: Long, byCol: String,
      onStep: String => Unit = _ => ()): Boolean =
    new Store(spark, countsDir).compact(uptoBatchId, onStep)(
      _.groupBy(col(byCol), col("__tok"))
        .agg(sum(col("__c")).as("__c")))

  // ------------------------------------------------------- streaming ANN
  /** Write ONE micro-batch's IVF-PQ codes (the
    * [[graft.ext.Similarity.saveIvfPqCodes]] layout) as its `batch=<id>`
    * partition: the batch encodes under the FIXED serving `model`, sorted
    * on (__cid, id), so `ivfPqSearch(pruneLists = true)` skips row groups
    * inside every partition exactly as against a batch-built index. Codes
    * are deterministic per-row projections of (model, row), so the union
    * of partitions is bit-identical to a one-shot corpus encode
    * (StreamingPipelineSpec pins streamed-built ≡ batch-built search). */
  def ivfPqIndexBatch(indexDir: String,
      model: graft.ext.Similarity.IvfPqModel, idCol: String, vecCol: String,
      onWrite: () => Unit = () => ())
      (batch: DataFrame, batchId: Long): Unit = {
    val codes = graft.ext.Similarity
      .ivfPqEncode(model, batch, idCol, vecCol).persist()
    try new Store(batch.sparkSession, indexDir).writeBatch(batchId,
      "ivfPqIndexBatch", Seq("__cid", "id"), onWrite = onWrite)(codes)
    finally codes.unpersist(false)
  }

  /** Load a per-batch index — [[ivfPqIndexBatch]]'s (`idCol` "id"),
    * [[binarySigBatch]]'s or [[bucketBatch]]'s ("vec_id") — as one table
    * whose schema equals the batch-built one, through the store reader.
    * One distinct on `idCol` follows: it removes nothing from a store this
    * code wrote, but a store compacted by an older version that crashed
    * after its commit rename holds one id in two partitions, and an ANN
    * top-k must not surface an id twice. Rows of one id are bit-identical
    * (deterministic projections), so the distinct is exact. */
  def loadIndex(spark: SparkSession, indexDir: String,
      idCol: String): DataFrame = {
    val store = new Store(spark, indexDir)
    require(store.exists, s"no index at $indexDir")
    val rows = store.read()
    require(rows.nonEmpty, s"no batch partitions under $indexDir")
    rows.get.dropDuplicates(idCol)
  }

  /** Compact the [[ivfPqIndexBatch]] index: a list-sorted, id-distinct
    * merge. Committed-horizon precondition: see the object scaladoc. */
  def compactIvfPqIndex(spark: SparkSession,
      indexDir: String, uptoBatchId: Long,
      idCol: String = "id", onStep: String => Unit = _ => ()): Boolean =
    new Store(spark, indexDir).compact(uptoBatchId, onStep)(
      _.dropDuplicates(idCol).sort(col("__cid"), col(idCol)))

  // ------------------------------------------- streaming binary signatures
  /** Write ONE micro-batch's 64-bit sign signatures as its `batch=<id>`
    * partition — the streaming maintenance path of the
    * [[graft.ext.Similarity]] `binarySigTable` relation (the served hybrid
    * fusion's Hamming leg), vec_id-sorted so signature row groups prune on
    * id probes. Signatures are pure integer projections of the vector
    * signs, so the union of partitions is bit-identical to the one-shot
    * table (StreamingPipelineSpec pins it, including the served-fusion-leg
    * parity). */
  def binarySigBatch(indexDir: String, idCol: String, vecCol: String,
      onWrite: () => Unit = () => ())
      (batch: DataFrame, batchId: Long): Unit = {
    val sigs = graft.ext.Similarity.withBinarySig(
        batch.select(col(idCol).as("vec_id"),
          transform(col(vecCol), x => x.cast("double")).as("__v")), "__v")
      .select(col("vec_id"), col("sig0"), col("sig1")).persist()
    try new Store(batch.sparkSession, indexDir).writeBatch(batchId,
      "binarySigBatch", Seq("vec_id"), onWrite = onWrite)(sigs)
    finally sigs.unpersist(false)
  }

  /** Compact the [[binarySigBatch]] index: a vec_id-sorted, id-distinct
    * merge. Committed-horizon precondition: see the object scaladoc. */
  def compactBinarySigIndex(spark: SparkSession,
      indexDir: String, uptoBatchId: Long,
      onStep: String => Unit = _ => ()): Boolean =
    new Store(spark, indexDir).compact(uptoBatchId, onStep)(
      _.dropDuplicates("vec_id").sort(col("vec_id")))

  /** Write ONE micro-batch's single-band bucket rows as its `batch=<id>`
    * partition of a DENSE index — the streaming maintenance path of
    * [[graft.ext.Similarity]]'s content-addressed `bucketTable` (the s02
    * serving store), so the probed-cosine leg stays current per batch
    * instead of re-projecting the corpus on every refresh. The signature
    * width `w` is FIXED at index creation (a stream cannot re-bucket
    * retroactively — pick it from the expected corpus size via the
    * `bucketPlanes` rule; a width change is a new index): the first batch
    * records it as `_meta.w` and every later batch fails loudly on a
    * mismatch ([[bucketIndexWidth]] is the read side). Rows are the same
    * [[graft.ext.Similarity.bucketProjection]] the batch store builds, so
    * the union of partitions is bit-identical to the one-shot store at that
    * width (StreamingPipelineSpec pins it, including the probed-ranking
    * parity); (bucket, vec_id)-sorted so per-search IO prunes row groups to
    * the probed lists. */
  def bucketBatch(indexDir: String, idCol: String, vecCol: String, w: Int,
      onWrite: () => Unit = () => ())
      (batch: DataFrame, batchId: Long): Unit = {
    require(w >= 1 && w <= 20, s"bucket width in [1,20], got $w")
    val rows = graft.ext.Similarity
      .bucketProjection(batch, idCol, vecCol, w).persist()
    try new Store(batch.sparkSession, indexDir).writeBatch(batchId,
      "bucketBatch", Seq("bucket", "vec_id"), Seq("w" -> w.toLong),
      onWrite)(rows)
    finally rows.unpersist(false)
  }

  /** Compact the [[bucketBatch]] index: a (bucket, vec_id)-sorted,
    * id-distinct merge, so the compacted partition keeps the probed-list
    * row-group pruning. Committed-horizon precondition: see the object
    * scaladoc. */
  def compactBucketIndex(spark: SparkSession,
      indexDir: String, uptoBatchId: Long,
      onStep: String => Unit = _ => ()): Boolean =
    new Store(spark, indexDir).compact(uptoBatchId, onStep)(
      _.dropDuplicates("vec_id").sort(col("bucket"), col("vec_id")))

  // --------------------------------------- streaming component labels
  /** Append ONE micro-batch to the streamed COMPONENT-LABEL store — the
    * incremental-maintenance path of [[graft.ext.Dedup]]'s
    * `sigComponentsTable`. The store holds TWO sub-stores under
    * `indexDir`: `sigs/batch=<id>` — the batch's per-doc simhash
    * fingerprints (a pure projection) — and `labels/batch=<id>` — the label
    * DELTA: every member of every component this batch's documents touch,
    * written as (id, component, group_size, __b = batchId). Both are
    * written under the lock of `indexDir`, whose `_meta` files fix the
    * banding parameters at store creation.
    *
    * Incremental algorithm (exact, not approximate): the batch's new
    * fingerprints probe the accumulated signature index for the pair
    * edges they add ([[graft.ext.DedupOps.simhashPairsAcross]] — band
    * equi-join, batch-sized probe side); edge endpoints CONTRACT to their
    * current resolved labels (an unlabeled endpoint is its own label —
    * previously-unpaired docs enter here); a bounded union-find over the
    * contracted label-level edges ([[graft.ext.DedupOps
    * .connectedComponents]], `maxDriverEdges`-guarded with the
    * distributed fallback) yields the merge map; and the delta rewrites
    * all members of affected components with the merged min-id label and
    * the new size. Old labels are component MINIMA by induction, so the
    * min over merged labels and new ids is the true component minimum —
    * the resolved store replays the batch `connectedComponents` labeling
    * EXACTLY for any ingestion split (spec-pinned bit-exact parity).
    *
    * Read side resolves LAST-WRITER-WINS per id on the in-row `__b`
    * column ([[loadComponentIndex]]); a replayed batch recomputes its
    * delta from the partitions strictly below it. SCOPE of the empty-replay
    * delete (a caveat the pure-projection stores don't have): it is sound
    * only for the batch structured streaming actually replays — the LAST,
    * uncommitted one, before any later batch exists. Replaying an OLD
    * committed batch empty would orphan later deltas that were computed
    * with its docs present; committed batches are never replayed, so that
    * state is unreachable under the streaming semantics this store serves.
    *
    * Identity contract: one signature per doc_id (the
    * [[graft.ext.DedupOps.simhashPairsAcross]] determinism contract). A
    * batch-vs-index collision resolves to the BATCH's signature (the
    * anti-join below); a changed document across COMMITTED batches must
    * arrive as a new doc_id — the sigs store is append-only per batch and
    * cannot retract an old batch's row.
    *
    * Scale shape: per batch, one band equi-join of batch postings against
    * the 8-byte/doc signature index, one keyed join of the (pair-graph-
    * sized) resolved label table against the batch's affected labels, and
    * a delta write sized by the affected components — never the corpus.
    * Serving cost: the resolved read is one scan + one id-keyed window
    * over the label relation; compaction ([[compactComponentIndex]])
    * folds it to one row per id. */
  def componentBatch(indexDir: String, idCol: String, textCol: String,
      bands: Int = 2, bitsPerBand: Int = 15, maxHamming: Int = 1,
      maxDriverEdges: Long = 5000000L, onWrite: () => Unit = () => ())
      (batch: DataFrame, batchId: Long): Unit = {
    val store = new Store(batch.sparkSession, indexDir)
    val (sigs, labels) = (store.sub("sigs"), store.sub("labels"))
    val sigsNew = graft.ext.DedupOps.withSimhash(
        batch.select(col(idCol).cast("long").as("doc_id"),
          col(textCol).as("__text")),
        "__text", "simhash", bands * bitsPerBand)
      .select(col("doc_id"), col("simhash")).persist()
    var delta: Option[DataFrame] = None
    try store.lock.synchronized {
      store.requireMeta("bands" -> bands.toLong,
        "bitsPerBand" -> bitsPerBand.toLong, "maxHamming" -> maxHamming.toLong)
      sigs.open(); labels.open()
      // the label delta, computed from state STRICTLY before this batch
      delta =
        if (sigsNew.isEmpty) None
        else {
          // the batch's signature WINS over any earlier index row for the
          // same doc_id (two live sigs per id made the pair resolution
          // nondeterministic through first()): the anti-join is
          // batch-sized-broadcast cheap and a no-op under the store's
          // unique-doc_id contract (see the simhashPairsAcross scaladoc —
          // a changed document is a NEW doc_id; same-batch replay recomputes
          // from strictly-earlier state, so it never self-collides here)
          val all = sigs.read(below = batchId)
            .map(_.join(broadcast(sigsNew.select(col("doc_id"))),
              Seq("doc_id"), "left_anti").unionByName(sigsNew))
            .getOrElse(sigsNew)
          // localCheckpoint, not persist(MEMORY_AND_DISK): the pairs feed an
          // emptiness check, two joins and the union-find, and cutting the
          // lineage keeps those plans from re-planning the band join against
          // the index files. A lost block fails the batch (the stream
          // replays it) instead of recomputing; the pairs are the edges
          // this batch's documents add, so the bound is the micro-batch.
          val pairs = graft.ext.DedupOps.simhashPairsAcross(sigsNew, all,
            "doc_id", "simhash", bands, bitsPerBand, maxHamming)
            .localCheckpoint(true)
          // gate BEFORE touching the resolved store: the common
          // steady-state micro-batch adds no near-dup pairs, and the
          // label-store scan + checkpoint would be pure waste there
          if (pairs.isEmpty) None else {
          // localCheckpoint for the same reason as the pairs: the resolved
          // labels are read by two joins and a distinct, and the id-keyed
          // window over every label partition should run once. Its size is
          // the pair graph (ids that ever paired), not the corpus — the
          // bound that makes a driver-tracked, lineage-free copy acceptable.
          val res = labels.read(below = batchId)
            .map(df => resolveLatest(df).select(col("id"), col("component"))
              .localCheckpoint(true))
          val contracted = (res match {
            case Some(r) =>
              pairs
                .join(r.select(col("id").as("id_a"), col("component").as("__ca")),
                  Seq("id_a"), "left")
                .join(r.select(col("id").as("id_b"), col("component").as("__cb")),
                  Seq("id_b"), "left")
                .select(coalesce(col("__ca"), col("id_a")).as("la"),
                  coalesce(col("__cb"), col("id_b")).as("lb"))
            case None =>
              pairs.select(col("id_a").as("la"), col("id_b").as("lb"))
          }).filter(col("la") =!= col("lb"))
          val comp = graft.ext.DedupOps.connectedComponents(
            contracted, "la", "lb", maxDriverEdges = maxDriverEdges)
          if (comp.isEmpty) None
          else {
            // merge map is bounded by the batch's contracted edges — the
            // affected labels, not the corpus
            val nc = broadcast(comp.select(col("id").as("__lbl"),
              col("component").as("__nc")))
            val oldMembers = res.map(r =>
              r.join(nc, r("component") === col("__lbl"))
                .select(r("id").as("id"), col("__nc").as("component")))
            // labels with NO rows in the resolved store are their own sole
            // member: new docs and previously-unpaired old docs
            val labeled = res.map(_.select(col("component").as("__lbl"))
              .distinct())
            val selfMembers = (labeled match {
              case Some(l) => nc.join(l, Seq("__lbl"), "left_anti")
              case None => nc
            }).select(col("__lbl").as("id"), col("__nc").as("component"))
            val members = oldMembers.map(_.unionByName(selfMembers))
              .getOrElse(selfMembers)
            val sizes = members.groupBy(col("component"))
              .agg(count(lit(1)).as("group_size"))
            Some(members.join(sizes, Seq("component"))
              .select(col("id"), col("component"), col("group_size"),
                lit(batchId).as("__b")).persist())
          }
          }
        }
      sigs.write(batchId, Some(sigsNew), Seq("doc_id"),
        "componentBatch/sigs", onWrite)
      labels.write(batchId, delta, Seq("id"), "componentBatch/labels", onWrite)
    } finally {
      sigsNew.unpersist(false)
      delta.foreach(_.unpersist(false)): Unit
    }
  }

  /** Resolve the newest row per id on the in-row batch stamp — the
    * component store's last-writer-wins read. Duplicate (id, __b) rows are
    * bit-identical (the delta is deterministic), so the pick is exact. */
  private def resolveLatest(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("__b").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Read the [[componentBatch]]-maintained store as one
    * (id, component, group_size) table — the `sigComponentsTable` shape,
    * so every batch consumer (d07's label scan, c17/c19's
    * `softDedupWeightsFromComponents`, d11's `componentStatsFromLabels`)
    * serves from the streamed store unchanged. Resolves last-writer-wins
    * per id and never touches the pair stage (PlanSpec pins the
    * zero-rebuild serving). Returns an empty table when no batch has
    * produced a pair yet (every doc still a singleton — the batch table's
    * contract). */
  def loadComponentIndex(spark: SparkSession,
      indexDir: String): DataFrame = {
    val store = new Store(spark, indexDir)
    require(store.exists, s"no index at $indexDir")
    store.sub("labels").read() match {
      case Some(df) =>
        resolveLatest(df).select(col("id"), col("component"), col("group_size"))
      case None =>
        spark.range(0).select(col("id"), col("id").as("component"),
          col("id").as("group_size"))
    }
  }

  /** Compact both component sub-stores — the signature index with an
    * id-distinct doc-sorted fold, the label index by folding every merged
    * partition to the newest row per id (keeping the in-row `__b` stamp,
    * so precedence against not-yet-compacted later batches is unchanged).
    * Committed-horizon precondition: see the object scaladoc. Returns true
    * only when both sub-compactions committed (or had nothing to merge). */
  def compactComponentIndex(spark: SparkSession,
      indexDir: String, uptoBatchId: Long,
      onStep: String => Unit = _ => ()): Boolean = {
    // the ROOT lock serializes against componentBatch, which writes both
    // sub-stores under it; each sub-compaction takes its own sub-store
    // lock inside — a strict child of this one, taken nowhere else first,
    // so no deadlock
    val store = new Store(spark, indexDir)
    store.lock.synchronized {
      val sigsOk = store.sub("sigs").compact(uptoBatchId, onStep)(
        _.dropDuplicates("doc_id").sort(col("doc_id")))
      val labelsOk = store.sub("labels").compact(uptoBatchId, onStep)(
        df => resolveLatest(df.dropDuplicates()).sort(col("id")))
      sigsOk && labelsOk
    }
  }

  /** The width recorded by [[bucketBatch]]'s first batch — lets serving
    * code derive its probe configuration from the INDEX instead of caller
    * knowledge (the `_meta` contract's read side). */
  def bucketIndexWidth(spark: SparkSession, indexDir: String): Int = {
    val w = new Store(spark, indexDir).meta("w")
    require(w.nonEmpty, s"no _meta.w under $indexDir - not a " +
      "bucketBatch-maintained index (or created before the width contract)")
    w.get.toInt
  }

  /** The [[nearDedupBatch]] signature index read back as a posting relation
    * in the [[graft.ext.DedupOps.bandPostings]] shape `(__id, band, bsig)`
    * — the adapter that lets the BATCH serving path
    * ([[graft.ext.DedupOps.dropNearDuplicatesMinhashFromPostings]], d09's
    * cross-corpus probe) read the stream's store directly. Distinct, so an
    * index an older version left mid-compaction serves each posting once;
    * None when the index is empty.
    *
    * ONE STORE, BOTH PATHS — and its limit: the index and the batch
    * [[graft.ext.Dedup]] minhashPostTable share the bandPostings schema,
    * the d02 configuration, and the (band, bsig) sort. Spec-pinned: for a
    * corpus ingested in a single micro-batch the index is bit-identical to
    * the batch table semi-joined to d02's kept set, and the batch
    * CROSS-CORPUS operator
    * ([[graft.ext.DedupOps.dropNearDuplicatesAgainstFromPostings]], the
    * d09 serving shape) probing this index as its reference postings
    * computes exactly the cross-batch drop the stream applies to its next
    * micro-batch. The stores cannot unify further, by semantics rather
    * than layout: the batch table must hold EVERY doc's postings — the
    * within-corpus greedy keep reads the full relation (a doc is dropped
    * because some bucket holds a smaller id, KEPT OR NOT, so the
    * survivors-only index cannot recompute that decision), and d09 probes
    * its reference un-deduped — while the streaming index must hold
    * SURVIVORS ONLY (first-seen-wins: retaining dropped docs' postings
    * would drop future docs against content that was itself removed, and
    * a replayed batch would match its own prior attempt). On transitive
    * bucket chains (1~2, 2~3, 1≁3) the two rules genuinely diverge:
    * batch d02 drops 3 (its bucket's min is 2), the stream keeps 3 (2
    * never entered the index). */
  def indexPostings(spark: SparkSession,
      indexDir: String): Option[DataFrame] =
    new Store(spark, indexDir).read()
      .map(_.select(col("__id"), col("band"), col("bsig")).distinct())

  /** |cos| between two fitted components — the drift gauge between two
    * [[topComponentReport]] points (sign-invariant: a power iteration may
    * converge to ±v, which is the same direction). 1.0 = the common
    * direction is unchanged; a falling value is the corpus-drift alarm the
    * monitor exists for (re-fit per report, compare against the previous
    * report's component, alert under a threshold). */
  def componentDrift(a: Array[Double], b: Array[Double]): Double = {
    require(a.length == b.length && a.nonEmpty,
      s"componentDrift: incompatible components (${a.length} vs ${b.length})")
    def dot(x: Array[Double], y: Array[Double]): Double = {
      var acc = 0.0; var d = 0
      while (d < x.length) { acc += x(d) * y(d); d += 1 }
      acc
    }
    math.abs(dot(a, b) / math.sqrt(dot(a, a) * dot(b, b)))
  }

  /** Record one [[topComponentReport]] fit as a MONITOR POINT — the
    * time-series composition of [[componentDrift]]: each report's fitted
    * component is the `monitorDir/report=<id>` partition (one tiny row; a
    * replayed report overwrites exactly its own point). Feed successive
    * report ids from the batch ids the reports cover;
    * [[componentDriftAlarms]] reads the series back. */
  def componentFitPoint(spark: SparkSession,
      monitorDir: String, reportId: Long, fit: Array[Double]): Unit = {
    import spark.implicits._
    new Store(spark, monitorDir, "report=").writeBatch(reportId,
      "componentFitPoint")(
      Seq((reportId, fit.toSeq)).toDF("report_id", "component").coalesce(1))
  }

  /** The DRIFT ALARM over every recorded [[componentFitPoint]], in
    * report-id order: one row per consecutive report pair —
    * `(report_id, drift = |cos(v_t, v_prev)|, alarm = drift < threshold)`.
    * The closed monitoring loop the per-pair [[componentDrift]] gauge
    * lacks: ≥3 points make a SERIES, and the alarm fires at the first
    * report whose refreshed common direction moved past the threshold —
    * not before (a stable corpus gauges ≈1.0 at every step; spec-pinned on
    * a planted rotation schedule). State is |reports| × dim driver-side
    * doubles — KBs at any corpus size; the expensive half (the fit) was
    * already bounded by [[topComponentBatch]]'s sample rule. Returns an
    * empty series when fewer than two points exist. */
  def componentDriftAlarms(spark: SparkSession,
      monitorDir: String, threshold: Double): Seq[(Long, Double, Boolean)] = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold in (0,1]: $threshold")
    import spark.implicits._
    new Store(spark, monitorDir, "report=").read().toSeq.flatMap { df =>
      val points = df.select(col("report_id"), col("component"))
        .as[(Long, Seq[Double])].collect().sortBy(_._1)
      points.sliding(2).collect { case Array((_, prev), (id, cur)) =>
        val d = componentDrift(prev.toArray, cur.toArray)
        (id, d, d < threshold)
      }.toSeq
    }
  }

  /** Record one [[klDriftReport]]'s per-source KL points as a MONITOR
    * POINT — the [[componentFitPoint]] discipline applied to the token
    * distribution gauge: each report's (source, kl_corpus) rows are the
    * `monitorDir/report=<id>` partition with the report id folded into the
    * rows, so a replayed report overwrites exactly its own point.
    * Per-report IO is |sources| rows — KBs at any corpus size. */
  def klDriftPoint(monitorDir: String, reportId: Long, report: DataFrame,
      byCol: String): Unit =
    new Store(report.sparkSession, monitorDir, "report=").writeBatch(reportId,
      "klDriftPoint")(
      report.select(lit(reportId).as("report_id"), col(byCol),
        col("kl_corpus").as("kl")).coalesce(1))

  /** The DRIFT ALARM over every recorded [[klDriftPoint]], per source in
    * report-id order: one row per consecutive report pair per source —
    * `(report_id, <byCol>, kl, drift = |kl_t − kl_prev|, alarm = drift >
    * threshold)`. A stable source's KL-vs-corpus gauge moves ~nothing
    * between reports; a source whose token distribution SHIFTS jumps at
    * the report that first covers the shifted batches — the alarm fires
    * there and not before (spec-pinned on a planted drifting source).
    * A source absent from some report pairs its surviving points
    * (consecutive PRESENT points — absence means no tokens, not
    * drift). Returns an empty series when fewer than two reports exist
    * (with `byType` as the group column's type when none exists). State is
    * |sources| × |reports| rows — driver-negligible; the expensive half
    * (the counts) was already batch-partitioned by [[tokenCountsBatch]]. */
  def klDriftAlarms(spark: SparkSession,
      monitorDir: String, byCol: String, threshold: Double,
      byType: DataType = StringType): DataFrame = {
    require(threshold > 0.0, s"threshold > 0: $threshold")
    val source = new Store(spark, monitorDir, "report=").read().getOrElse(
      emptyFrame(spark, "report_id" -> LongType, byCol -> byType,
        "kl" -> DoubleType))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(byCol)).orderBy(col("report_id"))
    source
      .withColumn("__prev", lag(col("kl"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .withColumn("drift", abs(col("kl") - col("__prev")))
      .select(col("report_id"), col(byCol), col("kl"), col("drift"),
        (col("drift") > threshold).as("alarm"))
  }

  /** Driver-side benchmark hash set from a static benchmark table — the
    * exact form only; callers that cannot bound the eval suite should use
    * [[benchmarkGrams]], which switches to the Bloom form past
    * `maxExactGrams`. */
  def benchmarkHashes(benchmark: DataFrame, textCol: String, n: Int = 8): Seq[Long] = {
    import benchmark.sparkSession.implicits._
    gramHashes(benchmark, textCol, n).as[Long].collect().toSeq
  }

  // ------------------------------------------------ incremental KL drift
  /** Incremental token-count state for streaming distribution monitoring —
    * the c14 `klDrift` report fed from a stream: each micro-batch writes
    * its OWN (byCol, __tok, __c) aggregate as its `batch=<id>` partition.
    * Per-batch IO is batch-sized (one aggregate write), never state-sized —
    * no read-merge-rewrite of the vocabulary per micro-batch; report cost
    * grows with the partition count until [[compactCounts]] folds them.
    *
    * Use as `stream.writeStream.foreachBatch(tokenCountsBatch(dir, "text",
    * "source") _)`. */
  def tokenCountsBatch(countsDir: String, textCol: String, byCol: String)
      (batch: DataFrame, batchId: Long): Unit = {
    val counts = graft.ext.CurationOps.tokenCounts(batch, textCol, byCol)
      .persist()
    try new Store(batch.sparkSession, countsDir).writeBatch(batchId,
      "tokenCountsBatch")(counts)
    finally counts.unpersist(false)
  }

  /** The c14 KL-drift report over everything [[tokenCountsBatch]] has
    * accumulated: sum-merge the batch partitions to one (byCol, token)
    * count table (vocabulary-sized — the merge never touches document
    * text), then the exact [[graft.ext.CurationOps.klFromCounts]] math, so
    * the streaming report is BIT-identical to running the batch `klDrift`
    * over the union of all micro-batches (spec-pinned). Absent state gives
    * the empty report through the same plan, over an empty frame whose
    * group column has type `byType`. */
  def klDriftReport(spark: SparkSession,
      countsDir: String, byCol: String,
      byType: DataType = StringType): DataFrame = {
    val source = new Store(spark, countsDir).read().getOrElse(
      emptyFrame(spark, byCol -> byType, "__tok" -> StringType, "__c" -> LongType))
    val merged = source
      .groupBy(col(byCol), col("__tok"))
      .agg(sum(col("__c")).as("__c"))
    graft.ext.CurationOps.klFromCounts(merged, byCol)
  }

  // ------------------------------------------ embedding top-component drift
  /** Streaming twin of the s30 top-principal-component fit — the
    * corpus-drift monitor for EMBEDDING spaces: each micro-batch writes its
    * training-eligible vectors (`idCol` < `sampleMax` — the s30/s15
    * bounded-sample rule, so state is sample-sized, never stream-sized) as
    * its `batch=<id>` partition. */
  def topComponentBatch(sampleDir: String, idCol: String, vecCol: String,
      sampleMax: Long = 256L)(batch: DataFrame, batchId: Long): Unit = {
    val sample = batch.filter(col(idCol) < sampleMax)
      .select(col(idCol), col(vecCol)).persist()
    try new Store(batch.sparkSession, sampleDir).writeBatch(batchId,
      "topComponentBatch")(sample)
    finally sample.unpersist(false)
  }

  /** Fit the top component over everything [[topComponentBatch]] has
    * accumulated: read the union of batch partitions and run the EXACT
    * batch [[graft.ext.Similarity.topComponentFit]] — whose driver fold is
    * id-sorted and therefore independent of how rows arrived — so the
    * streamed fit is BIT-identical to fitting the union of all
    * micro-batches in one batch job (spec-pinned). Returns None when no
    * batch has written yet (the fit has no empty-sample meaning).
    * Monitoring shape: re-fit per report and compare the component across
    * reports (cosine between fits) to watch the common direction drift as
    * the corpus grows.
    *
    * BOUND: the forwarded [[graft.ext.Similarity.topComponentFit]] FAILS
    * (IllegalArgument) when the accumulated sample exceeds its `maxSample`
    * default of 65536 rows, instead of fitting an unbounded driver
    * collect. The [[topComponentBatch]] writer's `sampleMax` id-cut keeps
    * in-repo stores far below the bound; an external caller accumulating a
    * larger sample must re-point `sampleMax`/`maxSample` deliberately — the
    * fail-not-truncate contract is intentional (a silent cut would change
    * the fitted component under a contract that promises the exact
    * accumulated sample). */
  def topComponentReport(spark: SparkSession,
      sampleDir: String, idCol: String, vecCol: String, iters: Int = 8)
      : Option[(Array[Double], Array[Double])] =
    new Store(spark, sampleDir).read().map(
      graft.ext.Similarity.topComponentFit(_, idCol, vecCol, iters))

  // --------------------------------------------- incremental corpus report
  /** Incremental doc-stat state for the c15 corpus report over a stream:
    * each micro-batch writes its (source, lang) cell stats (n_docs /
    * n_tokens / n_chars / max_doc_tokens — all sum/max-mergeable) as its
    * `batch=<id>` partition; per-batch IO is one |sources×langs|-row
    * aggregate. */
  def docStatsBatch(statsDir: String, textCol: String, sourceCol: String,
      langCol: String)(batch: DataFrame, batchId: Long): Unit = {
    val stats = batch
      .withColumn("__ntok", size(toks(col(textCol))).cast("long"))
      .withColumn("__nchr", length(col(textCol)).cast("long"))
      .groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ntok")).as("n_tokens"),
        sum(col("__nchr")).as("n_chars"),
        max(col("__ntok")).as("max_doc_tokens"))
      .persist()
    try new Store(batch.sparkSession, statsDir).writeBatch(batchId,
      "docStatsBatch")(stats)
    finally stats.unpersist(false)
  }

  /** The c15 rollup report over everything [[docStatsBatch]] accumulated:
    * merge the cell partitions (sums re-sum, maxes re-max — every stat is
    * associative), then the SAME rollup lattice and `(all)` labels as the
    * batch [[graft.ext.CurationOps.corpusReport]], so the streamed report
    * equals the batch operator over the union of all micro-batches exactly
    * (integer-only — spec-pinned). Absent state gives the empty report
    * through the same plan. */
  def corpusReportStream(spark: SparkSession,
      statsDir: String, sourceCol: String = "source",
      langCol: String = "lang"): DataFrame = {
    val source = new Store(spark, statsDir).read().getOrElse(
      emptyFrame(spark, Seq(sourceCol, langCol).map(_ -> StringType) ++
        Seq("n_docs", "n_tokens", "n_chars", "max_doc_tokens")
          .map(_ -> LongType): _*))
    source
      .rollup(col(sourceCol), col(langCol))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        max(col("max_doc_tokens")).as("max_doc_tokens"))
      .select(
        coalesce(col(sourceCol), lit("(all)")).as("source_grp"),
        coalesce(col(langCol), lit("(all)")).as("lang_grp"),
        col("n_docs"), col("n_tokens"), col("n_chars"),
        col("max_doc_tokens"))
  }

  /** [[compactCounts]] for the doc-stat state: sum/max-merge committed
    * partitions (the same correctness-critical horizon precondition —
    * replaying a compacted batch would double-count). */
  def compactStats(spark: SparkSession,
      statsDir: String, uptoBatchId: Long, sourceCol: String = "source",
      langCol: String = "lang", onStep: String => Unit = _ => ()): Boolean =
    new Store(spark, statsDir).compact(uptoBatchId, onStep)(
      _.groupBy(col(sourceCol), col(langCol))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          max(col("max_doc_tokens")).as("max_doc_tokens")))
}
