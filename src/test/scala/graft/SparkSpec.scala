package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one JVM-wide session, small core count
  * so the suite stays fast. Streaming checkpoints use the engine's
  * checkpoint file manager, as in [[GraftSession.builder]], so every
  * streaming spec runs on it. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(GraftSession.CheckpointFileManagerConf._1, GraftSession.CheckpointFileManagerConf._2)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  // val (not def): `import spark.implicits._` needs a stable identifier.
  val spark: SparkSession = SparkSpec.spark
}
