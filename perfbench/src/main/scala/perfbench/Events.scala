package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** The seeded input model of the ship workloads.
  *
  * Every property of an event, and every accept/reject decision the modelled
  * service makes, is a pure function of (seed, event id[, attempt]). So the
  * same seed gives the same files and the same throttled (event id, attempt)
  * pairs however the program chunks the records, and the benchmark can
  * predict every drop without looking at the program.
  */
object Events {
  /** Fixed parameters of the event generator; README.md gives the source
    * of each. Hosts: the key cardinality of the test data's `events` table
    * (150 distinct `user_id` at sf0.01). Zipf exponent: YCSB's
    * default request skew (0.99). */
  val Hosts = 150
  val ZipfS = 0.99
  /** Zipf head: the host of the hot shard in `ship_throttled`. */
  val HotHosts = 1
  val CorruptShare = 0.01
  val NullHostShare = 0.01
  /** `msg` length, uniform between the shortest and longest text of the
    * test data's `documents` table at sf0.01 (48 and 553 characters). */
  val MsgMin = 48
  val MsgMax = 553
  /** `level`, uniform like `event_type` in the test data's `events` table. */
  val Levels: Array[String] = Array("info", "warn", "error", "debug")
  private val words = Array("alpha", "bravo", "connection", "timeout",
    "request", "served", "user", "cache", "miss", "disk", "retry", "ok",
    "upstream", "latency", "queue", "worker", "started", "stopped", "gc",
    "session", "token", "expired", "route", "handler")

  sealed trait Kind
  case object Ok extends Kind
  case object NullHost extends Kind
  case object Corrupt extends Kind

  final case class Event(id: Long, kind: Kind, hostRank: Int, level: String, msg: String) {
    def host: String = hostName(hostRank)
    def deliverable: Boolean = kind == Ok
    /** The NDJSON line the generator writes for this event. */
    def line: String = kind match {
      case Ok => json
      case NullHost => s"""{"event_id":$id,"level":"$level","msg":"$msg"}"""
      // cut inside the host string: no JSON parser can accept it
      case Corrupt => json.substring(0, json.indexOf("\"host\":") + 10)
    }
    private def json: String =
      s"""{"event_id":$id,"host":"$host","level":"$level","msg":"$msg"}"""
  }

  def hostName(rank: Int): String = f"host-$rank%03d"

  private val zipfCdf: Array[Double] = {
    val w = (1 to Hosts).map(r => 1.0 / math.pow(r, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** SplitMix64 finaliser: a well-mixed 64-bit hash. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform [0, 1) from a hash of the given parts. */
  def unit(parts: Long*): Double = {
    val h = parts.foldLeft(0x5DEECE66DL)((acc, p) => mix(acc ^ p))
    (h >>> 11).toDouble / (1L << 53).toDouble
  }

  def event(seed: Long, id: Long): Event = {
    val u = unit(seed, id, 1)
    val kind = if (u < CorruptShare) Corrupt
      else if (u < CorruptShare + NullHostShare) NullHost else Ok
    val hostRank = {
      val i = java.util.Arrays.binarySearch(zipfCdf, unit(seed, id, 2))
      math.min(if (i >= 0) i + 1 else -i - 1, Hosts - 1)
    }
    val level = Levels((unit(seed, id, 3) * Levels.length).toInt)
    val len = MsgMin + ((MsgMax - MsgMin + 1) * unit(seed, id, 4)).toInt
    val sb = new StringBuilder
    var k = 0L
    while (sb.length < len) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(words((mix(seed ^ (id * 31 + k)) >>> 33).toInt % words.length))
      k += 1
    }
    Event(id, kind, hostRank, level, sb.substring(0, len))
  }

  /** Bytes of one NDJSON file holding events `from until to`. */
  def fileBytes(seed: Long, from: Long, to: Long): Array[Byte] = {
    val sb = new StringBuilder
    var id = from
    while (id < to) { sb.append(event(seed, id).line).append('\n'); id += 1 }
    sb.toString.getBytes(UTF_8)
  }

  /** Service fault model of `ship_throttled`: does the service reject the
    * `attempt`-th send (0-based) of event `id` with
    * ProvisionedThroughputExceeded? Hot-shard hosts are rejected more often. */
  final case class Throttle(hotShare: Double, coldShare: Double) {
    def rejects(seed: Long, id: Long, attempt: Int, hostRank: Int): Boolean =
      unit(seed, id, 100 + attempt) < (if (hostRank < HotHosts) hotShare else coldShare)

    /** An event the service rejects on every one of its `maxRetries + 1`
      * sends: the sink must drop it. */
    def drops(seed: Long, e: Event, maxRetries: Int): Boolean =
      e.deliverable && (0 to maxRetries).forall(a => rejects(seed, e.id, a, e.hostRank))
  }
}
