package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Fixed row list of the `rows` workload. A pass over all 163 rows does
  * not fit one run, so the list is a fixed subset. */
object RowsParams {
  /** `q` rows, where DataFrame construction and planning dominate:
    * aggregation, a rollup, an as-of join and percentiles. */
  val Analytics: Seq[String] = Seq("q01_pricing_summary", "q10_rollup",
    "q19_asof_join", "q37_percentiles")
  /** One execution-bound row of each ext family; d08 and t15 are among the
    * heaviest rows. */
  val Ext: Seq[String] = Seq("c02_pack_sequences", "d02_minhash_lsh", "d08_span_mask",
    "m04_image_dhash", "s06_embedding_outliers", "t15_kn_surprise")
  val All: Seq[String] = Analytics ++ Ext
  /** Rows whose first run builds a persisted store (d02: the minhash
    * postings); set-up times that first run on its own. */
  val Onetime: Seq[String] = Seq("d02_minhash_lsh")
}

/** Order-independent digest of a result: row count and the sum of a hash
  * of every row, with floats compared by their raw IEEE-754 bits. */
object Digest {
  private def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString

  def canon(v: Any): String = v match {
    case null => "N"
    case d: Double => "d" + (if (d.isNaN) "nan" else java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d)))
    case f: Float => "f" + (if (f.isNaN) "nan" else Integer.toHexString(java.lang.Float.floatToRawIntBits(f)))
    case b: Array[Byte] => "y" + hex(b)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => "m" + d.toPlainString
    case o => o.getClass.getSimpleName + ":" + o.toString
  }

  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L
    var sum = 0L
    df.collect().foreach { r =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val h = md.digest(cols.map(i => canon(r.get(i))).mkString("\u0001").getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h).getLong
      n += 1
    }
    (n, java.lang.Long.toHexString(sum))
  }

  /** `name<TAB>rows<TAB>digest` lines; digest `-` checks the row count only. */
  def load(path: java.nio.file.Path): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(name, rows, d) = l.split('\t')
        name -> (rows.toLong, d)
      }.toMap
}

/** One timed row execution: the build call, then the `noop` drain. */
final case class Exec(name: String, buildNs: Long, drainNs: Long, ok: Boolean) {
  def seconds: Double = (buildNs + drainNs) / 1e9
}

/** Per-row figures of one traced pass. */
final case class RowTrace(exec: Exec, buildJobs: Long, drain: ExecAcc,
    plan: (Long, Long, Long))

/** The `rows` workload: a closed loop with one client running
  * `SparkEntry.queries(name)(spark, dir)` and draining each result to the
  * `noop` sink, in a seed-shuffled order per pass. */
final class Rows(spark: SparkSession, dir: String, names: Seq[String], onetime: Seq[String],
    seed: Long, expected: Map[String, (Long, String)], tracer: Option[Tracer],
    log: String => Unit) {
  val failedRows = scala.collection.mutable.Set.empty[String]
  var onetimeMs = 0.0
  var warmupMs = 0.0

  def build(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  private def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  /** Set-up: a warm-up pass that also checks every row's digest against
    * the committed one; the rows with a one-time build come last, and
    * their first run is timed on its own as the one-time cost. Then an
    * untimed pass of `noop` drains: the digest pass collects its results,
    * so it leaves the drain path cold, and the first timed pass ran 10-25%
    * slower than the second. */
  def setup(): Unit = {
    val (later, first) = order(-1).partition(onetime.contains)
    first.foreach(check)
    val t0 = System.nanoTime()
    later.foreach(n => try drain(build(n)) catch { case e: Exception => fail(n, e) })
    onetimeMs = (System.nanoTime() - t0) / 1e6
    later.foreach(check)
    val t1 = System.nanoTime()
    pass(-2)
    warmupMs = (System.nanoTime() - t1) / 1e6
  }

  private def check(n: String): Unit =
    try {
      val (rows, digest) = Digest.of(build(n))
      expected.get(n) match {
        case Some((r, d)) if r == rows && (d == "-" || d == digest) => ()
        case Some((r, d)) =>
          failedRows += n; log(s"$n: digest $rows/$digest, expected $r/$d")
        case None => failedRows += n; log(s"$n: no committed digest")
      }
    } catch { case e: Exception => fail(n, e) }

  private def fail(n: String, e: Throwable): Unit = {
    failedRows += n
    log(s"$n failed: ${e.getClass.getName}: ${e.getMessage}".take(400))
  }

  /** One pass over every row. */
  def pass(p: Int): Seq[Exec] = order(p).map(run(_, 0L))

  private def run(n: String, parent: Long): Exec = {
    def scoped[T](scope: String, name: String)(f: => T): T = tracer match {
      case Some(t) => t.scoped(scope, name, parent, n)(f)
      case None => f
    }
    val t0 = System.nanoTime()
    try {
      val df = scoped(s"build:$n", s"${layerOf(n)}.build")(build(n))
      val t1 = System.nanoTime()
      scoped(s"drain:$n", "exec.drain")(drain(df))
      val t2 = System.nanoTime()
      Exec(n, t1 - t0, t2 - t1, ok = !failedRows(n))
    } catch {
      case e: Exception =>
        fail(n, e)
        Exec(n, System.nanoTime() - t0, 0L, ok = false)
    }
  }

  def layerOf(n: String): String = if (n.startsWith("q")) "analytics" else "ext"

  def tracedPass(p: Int): Seq[RowTrace] = {
    val t = tracer.get
    order(p).map { n =>
      t.settle(); t.plan.take()
      val e = t.scoped(s"row:$n", "row", 0L, n)(run(n, t.spans.nextId()))
      t.settle()
      RowTrace(e, t.exec.take(s"build:$n").jobs, t.exec.take(s"drain:$n"), t.plan.take())
    }
  }

  /** Tables the rows read from the data directory. */
  def tablesRead(): Seq[String] = {
    val prefix = new java.io.File(dir).getAbsolutePath + "/"
    names.flatMap { n =>
      build(n).queryExecution.analyzed.collectWithSubqueries {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath)
          case _ => Nil
        }
      }.flatten
    }.filter(p => p.startsWith(prefix) && p.endsWith(".parquet"))
      .map(_.stripPrefix(prefix).stripSuffix(".parquet")).distinct.sorted
  }

  /** Time `Tables.load` for each table: (mean ms, mean jobs) per load. */
  def tableLoads(tables: Seq[String], reps: Int = 2): (Double, Double) = {
    val t = tracer.get
    if (tables.isEmpty) return (0.0, 0.0)
    val times = for (_ <- 1 to reps; tb <- tables) yield {
      val t0 = System.nanoTime()
      t.scoped("tables", "Tables.load", 0L, tb)(Tables.load(spark, dir, tb))
      (System.nanoTime() - t0) / 1e6
    }
    t.settle()
    (times.sum / times.size, t.exec.take("tables").jobs.toDouble / times.size)
  }
}
