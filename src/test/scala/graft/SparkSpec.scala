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

  /** Deterministically drain the shared listener bus so every
    * listener event from actions already run has been
    * DELIVERED before the assertion reads the counter (round-17 ADVICE
    * #2: a fixed Thread.sleep races the async bus and can go flaky or
    * silently vacuous). `listenerBus` is `private[spark]` — public at
    * the bytecode level, so reflection reaches it without a shim class;
    * falls back to the old fixed wait if a Spark upgrade renames it. */
  protected def drainListenerBus(): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethods.find(_.getName == "listenerBus")
        .get.invoke(sc)
      val wait = bus.getClass.getMethods
        .filter(_.getName == "waitUntilEmpty").minBy(_.getParameterCount)
      if (wait.getParameterCount == 0) wait.invoke(bus)
      else wait.invoke(bus, java.lang.Long.valueOf(30000L))
      ()
    } catch { case _: ReflectiveOperationException | _: NoSuchElementException =>
      Thread.sleep(2000)
    }
}
