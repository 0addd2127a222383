package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Local testing runs `local[32]`; the config choices are made for a real
  * multi-executor cluster: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), shuffle partitions sized to the local core count
  * rather than the 200 default, and UTC so event-time semantics are stable.
  *
  * Streaming checkpoints are written by
  * [[graft.streaming.LocalCheckpointFileManager]] ([[CheckpointFileManagerConf]]).
  * Without `libhadoop`, Hadoop's local filesystem forks one `chmod` and four
  * `readlink` processes per checkpoint-log write; a `ship` micro-batch writes
  * three logs (offsets, commits, file-source log), so its stream thread
  * started 15 processes per micro-batch, and `walCommit` plus
  * `commitOffsets` took about 70 ms of a 263 ms trigger (traced benchmark
  * run on a 4-core host). The manager writes
  * `file:` checkpoints with `java.nio` and starts none; checkpoints on any
  * other scheme (S3, HDFS) take Spark's own code path unchanged.
  */
object GraftSession {
  def builder(master: String = s"local[${defaultCpus}]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", defaultCpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config(CheckpointFileManagerConf._1, CheckpointFileManagerConf._2)
      .config("spark.ui.enabled", "false")

  /** Spark's own setting for the streaming checkpoint file manager, and this
    * engine's value for it (see the object scaladoc). */
  val CheckpointFileManagerConf: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName

  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Streaming state-store tuning for large stateful jobs (NEXT r1 #5).
    *
    * RocksDB keeps per-partition state off-heap and spills to local disk, so
    * sessionization/dedup state can exceed executor heap — the 100 TB
    * setting; the HDFS-backed default keeps every version in memory.
    * Changelog checkpointing uploads per-batch deltas instead of full
    * snapshots, cutting commit latency on big state. Bounded memory caps the
    * total RocksDB block-cache+memtable footprint per executor so state
    * growth degrades to disk instead of OOM.
    *
    * These are plain session confs (settable per-query via
    * `spark.conf.set` too); the helper exists so callers get the
    * known-good combination in one call:
    * {{{ GraftSession.withRocksDbState(GraftSession.builder()).getOrCreate() }}} */
  def withRocksDbState(b: SparkSession.Builder,
      changelogCheckpointing: Boolean = true,
      boundedMemoryMb: Option[Long] = None): SparkSession.Builder =
    rocksDbStateConfs(changelogCheckpointing, boundedMemoryMb)
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The conf combination behind [[withRocksDbState]] — also settable on a
    * live session via `spark.conf.set` before starting a streaming query
    * (how the spec drives a stateful query through it). */
  def rocksDbStateConfs(changelogCheckpointing: Boolean = true,
      boundedMemoryMb: Option[Long] = None): Map[String, String] =
    Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        changelogCheckpointing.toString) ++
      boundedMemoryMb.map(mb => Map(
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
        "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> mb.toString))
        .getOrElse(Map.empty)

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
