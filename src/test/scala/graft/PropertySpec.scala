package graft

import graft.config.StreamsConfig
import graft.functions.XidGen
import graft.sink.BatchPut
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Property-based delivery/key invariants (SURVEY §5 engine test plan #2):
  * hold for ALL inputs, not just the example matrix. Spark-free — these
  * exercise the pure delivery machinery and the xid generator. Run by sbt's
  * native ScalaCheck framework alongside the ScalaTest suites. */
object PropertySpec extends Properties("graft.delivery") {

  private def cfg(batchSize: Int, maxRetries: Int = 3) = StreamsConfig(
    region = "r", streamName = "s", batchSize = batchSize, maxRetries = maxRetries)

  private def recs(n: Int) =
    (0 until n).map(i => BatchPut.Record(Array(i.toByte), s"k$i"))

  property("chunks <= batch_size and everything delivers") =
    forAll(Gen.choose(0, 2000), Gen.choose(1, 500)) { (n: Int, bs: Int) =>
      // chunks are put from several threads at once
      val calls = new ConcurrentLinkedQueue[Int]
      val putter = new BatchPut.Putter {
        def put(rs: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = {
          calls.add(rs.size); rs.map(_ => BatchPut.PutResult(None))
        }
      }
      val stats = BatchPut.publish(putter, cfg(bs), recs(n), sleep = _ => ())
      Prop.all(
        calls.asScala.forall(_ <= bs),
        calls.asScala.sum == n,
        stats.acked == n && stats.dropped == 0)
    }

  property("retry terminates within max_retries; still-failing rest drops") =
    forAll(Gen.choose(1, 200), Gen.choose(0, 5), Gen.choose(0, 8)) {
      (n: Int, maxRetries: Int, failFirstK: Int) =>
        val attempts = new AtomicInteger
        val putter = new BatchPut.Putter {
          def put(rs: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = {
            attempts.incrementAndGet()
            rs.map(r => BatchPut.PutResult(
              if (r.key.stripPrefix("k").toInt < failFirstK) Some("ERR") else None))
          }
        }
        val stats = BatchPut.publish(putter, cfg(500, maxRetries), recs(n), sleep = _ => ())
        val failing = math.min(failFirstK, n)
        Prop.all(
          stats.dropped == failing,
          stats.acked == n - failing,
          attempts.get <= (if (failing > 0) maxRetries + 1 else 1))
    }

  /** Deterministic service: record `key` fails on its `attempt`-th send
    * when a hash of (salt, key, attempt) says so, and every send is logged
    * as (key, attempt). Attempts are counted per key, so the outcome of a
    * send depends only on the record's own history, never on which chunk
    * the service happened to see first. */
  private final class KeyedFailures(salt: Int, failPct: Int) extends BatchPut.Putter {
    private val attempts = new ConcurrentHashMap[String, Integer]
    val sends = new ConcurrentLinkedQueue[(String, Int)]
    def put(rs: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] = rs.map { r =>
      val attempt: Int = attempts.merge(r.key, 1, (a: Integer, b: Integer) => a + b) - 1
      sends.add((r.key, attempt))
      val h = (salt, r.key, attempt).##
      BatchPut.PutResult(if (Math.floorMod(h, 100) < failPct) Some("ERR") else None)
    }
    def sendLog: Seq[(String, Int)] = sends.asScala.toSeq.sorted
  }

  property("concurrent publish == fold of per-chunk sequential publishes") =
    forAll(Gen.choose(0, 500), Gen.choose(1, 500), Gen.choose(0, 5),
        Gen.choose(0, 100), Gen.choose(0, Int.MaxValue)) {
      (n: Int, bs: Int, maxRetries: Int, failPct: Int, salt: Int) =>
        val c = cfg(bs, maxRetries)
        val concurrent = new KeyedFailures(salt, failPct)
        val stats = BatchPut.publish(concurrent, c, recs(n), sleep = _ => ())
        // one chunk per call: publish runs its loop on this thread alone
        val sequential = new KeyedFailures(salt, failPct)
        val folded = recs(n).grouped(bs).foldLeft(BatchPut.PublishStats()) { (acc, chunk) =>
          acc + BatchPut.publish(sequential, c, chunk, sleep = _ => ())
        }
        Prop.all(
          (stats == folded) :| s"stats $stats != $folded",
          (concurrent.sendLog == sequential.sendLog) :| "send multisets differ")
    }

  property("backoff doubles from init, monotone, capped at max") =
    forAll(Gen.choose(1, 100)) { (n: Int) =>
      var sleeps = List.empty[Long]
      val putter = new BatchPut.Putter {
        def put(rs: Seq[BatchPut.Record]): Seq[BatchPut.PutResult] =
          rs.map(_ => BatchPut.PutResult(Some("ERR")))
      }
      BatchPut.publish(putter, cfg(500, maxRetries = 5), recs(n),
        sleep = d => sleeps ::= d.toMillis)
      val s = sleeps.reverse
      Prop.all(
        s == s.sorted,
        s.headOption.forall(_ == 1000L),
        s.forall(_ <= 60000L),
        s.sliding(2).forall {
          case List(a, b) => b == math.min(a * 2, 60000L)
          case _ => true
        })
    }

  /** Reference (non-rolling) boundary rule: for each window end p, the
    * DIRECT polynomial Σ cp·B^(w−1−j) mod M — the formula the DuckDB
    * oracles stage. The rolling ring-buffer scan must match it for ALL
    * inputs, or the cross-engine d13/m08 contract silently breaks. */
  private def directBoundaries(cps: IndexedSeq[Int], window: Int,
      divisor: Int): Seq[Int] = {
    import graft.functions.CdcBoundaries.{B, M, powMod}
    (window to cps.length).filter { p =>
      val h = (0 until window)
        .map(j => cps(p - window + j) * powMod(window - 1 - j) % M)
        .sum % M
      h % divisor == 0
    }
  }

  private val unicodeStr: Gen[String] = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar.map(_.toString),
    // multibyte + supplementary-plane strings exercise the 2/3/4-byte
    // UTF-8 decode path of the rolling scan
    2 -> Gen.oneOf("\u00e9", "\u0142", "\u3042", "\u4e2d", " ", "\u20ac",
      "\ud834\udd1e", "\ud83d\ude00")))
    .map(_.mkString)

  property("CdcBoundaries rolling scan == direct polynomial (unicode incl. surrogates)") =
    forAll(unicodeStr, Gen.choose(2, 12), Gen.choose(2, 16)) {
      (s: String, window: Int, divisor: Int) =>
        val rolled = graft.functions.CdcBoundaries.boundaries(
          org.apache.spark.unsafe.types.UTF8String.fromString(s), window, divisor)
          .toIntArray().toSeq
        val cps = s.codePoints().toArray.toIndexedSeq
        rolled == directBoundaries(cps, window, divisor)
    }

  property("CdcBoundariesBytes rolling scan == direct polynomial (full byte range)") =
    forAll(Gen.listOf(Gen.choose(0, 255)), Gen.choose(2, 12), Gen.choose(2, 16)) {
      (bs: List[Int], window: Int, divisor: Int) =>
        val bytes = bs.map(_.toByte).toArray
        val rolled = graft.functions.CdcBoundariesBytes
          .boundaries(bytes, window, divisor).toIntArray().toSeq
        rolled == directBoundaries(bs.toIndexedSeq, window, divisor)
    }

  property("xids unique, alphabet-clean, k-ordered over increasing seconds") =
    forAll(Gen.listOfN(50, Gen.choose(0L, 4000000000L))) { (seconds: List[Long]) =>
      val sorted = seconds.sorted
      val ids = sorted.map(XidGen.next)
      Prop.all(
        ids.distinct.size == ids.size,
        // distinct seconds order the ids by their time prefix; duplicate
        // seconds fall back to counter order (not asserted — may wrap)
        ids == ids.sorted || sorted.distinct.size < sorted.size,
        ids.forall(_.matches("^[0-9a-v]{20}$")))
    }
}
