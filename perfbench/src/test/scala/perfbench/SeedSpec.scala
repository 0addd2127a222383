package perfbench

import graft.config.StreamsConfig
import graft.sink.BatchPut
import org.scalatest.funsuite.AnyFunSuite

/** The ship workloads' inputs and fault decisions depend on the seed only. */
class SeedSpec extends AnyFunSuite {
  private val ids = 0 until 20000

  private def records(seed: Long): Seq[BatchPut.Record] = ids.map(i => Events.event(seed, i))
    .filter(_.deliverable).map(e => BatchPut.Record((e.line + "\n").getBytes("UTF-8"), e.host))

  /** Ship `recs` through the sink's retry loop in chunks of `batchSize`
    * against a throttling service; return the service. */
  private def ship(seed: Long, recs: Seq[BatchPut.Record], batchSize: Int): ServiceState = {
    val ranks = ids.map(i => Events.event(seed, i).hostRank.toShort).toArray
    val svc = new ServiceState(seed, ranks, Some(ShipParams.Throttle), 3, rttNanos = 0)
    val cfg = StreamsConfig(region = "r", streamName = "s", partitionKey = "host",
      batchSize = batchSize)
    val putter = new BatchPut.Putter { def put(r: Seq[BatchPut.Record]) = svc.put(r) }
    recs.grouped(500).foreach(g => BatchPut.publish(putter, cfg, g, sleep = _ => ()))
    svc
  }

  /** Every (event id, attempt) send the service rejected. */
  private def throttledPairs(seed: Long, svc: ServiceState): Set[(Int, Int)] =
    ids.flatMap { i =>
      (0 until svc.sends.get(i)).filter(a =>
        ShipParams.Throttle.rejects(seed, i, a, svc.hostRanks(i))).map(i -> _)
    }.toSet

  test("the same seed gives identical event files") {
    assert(Events.fileBytes(7, 0, 5000).sameElements(Events.fileBytes(7, 0, 5000)))
  }

  test("a different seed changes the events") {
    assert(!Events.fileBytes(7, 0, 5000).sameElements(Events.fileBytes(8, 0, 5000)))
    assert(ids.count(i => Events.event(7, i) != Events.event(8, i)) > ids.size * 9 / 10)
  }

  test("seeded shares of corrupt and host-less lines are present") {
    val kinds = ids.map(i => Events.event(3, i).kind).groupBy(identity).view.mapValues(_.size).toMap
    assert(kinds(Events.Corrupt) > 100 && kinds(Events.NullHost) > 100)
    assert(Events.event(3, ids.find(i => Events.event(3, i).kind == Events.Corrupt).get)
      .line.count(_ == '{') == 1)
  }

  test("throttled (event id, attempt) pairs do not depend on chunking") {
    val recs = records(5)
    val a = ship(5, recs, batchSize = 50)
    val b = ship(5, recs.reverse, batchSize = 7)
    assert(throttledPairs(5, a).nonEmpty)
    assert(throttledPairs(5, a) == throttledPairs(5, b))
  }

  test("drops and never-accepted events match what the seed implies") {
    val seed = 9L
    val svc = ship(seed, records(seed), batchSize = 50)
    val predicted = ids.filter(i => ShipParams.Throttle.drops(seed, Events.event(seed, i), 3)).toSet
    val never = ids.filter(i => Events.event(seed, i).deliverable && svc.accepts.get(i) == 0).toSet
    assert(predicted.nonEmpty)
    assert(never == predicted)
    assert(ids.forall(i => svc.accepts.get(i) <= 1), "no duplicate acceptances")
  }
}
