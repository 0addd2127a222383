package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one JVM-wide session built by the
  * engine's own [[GraftSession.builder]], so every spec runs the shipped
  * session (extensions, checkpoint file manager, AQE confs), at a small
  * core count so the suite stays fast: `local[4]`, 4 shuffle partitions. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  // val (not def): `import spark.implicits._` needs a stable identifier.
  val spark: SparkSession = SparkSpec.spark
}
