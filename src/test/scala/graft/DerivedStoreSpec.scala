package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derived stores (the q38/q39/q48 layouts, [[Tables.cachedDerived]]) are
  * addressed by their source table's content: a table rewritten under the
  * same path is never answered from the previous generation's store, and a
  * failed build publishes nothing. */
class DerivedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = "/root/testdata/sf0.001"
  private val tables = Seq("events", "lineitem", "orders")

  private def rm(f: java.io.File): Unit = Tables.deleteRecursively(f)

  /** Stores built for `dir` (any name, any generation). */
  private def storesOf(dir: String): Seq[java.io.File] = {
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_derived")
    val dh = Tables.dirHash(dir)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.contains(s"-$dh-")).toSeq
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  // The store-free forms of the three rows (their DuckDB oracles' plans).
  private def plainJoin(dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy($"o_orderpriority")
      .agg(
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
        countDistinct($"o_orderkey").as("n_orders"),
        count(lit(1)).as("n_items"))
      .orderBy($"o_orderpriority")
  }

  private def dayFilter(dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .filter(date_format($"ts", "yyyy-MM-dd") === "2024-01-15")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"event_type")

  private def splitUnion(dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val cents = round($"value" * 100).cast("long")
    e.filter($"event_id" % 2 === 0)
      .select($"event_type", cents.as("cents"), lit(null).cast("long").as("bonus_cents"))
      .unionAll(e.filter($"event_id" % 2 === 1)
        .select($"event_type", cents.as("cents"), (cents * 2).as("bonus_cents")))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"cents").as("sum_cents"),
        sum(coalesce($"bonus_cents", lit(0L))).as("sum_bonus"),
        sum(when($"bonus_cents".isNull, 1L).otherwise(0L)).as("n_pre_schema"))
      .orderBy($"event_type")
  }

  private val cases: Seq[(String, String => DataFrame)] = Seq(
    "q38_bucketed_join" -> plainJoin,
    "q39_partition_pruning" -> dayFilter,
    "q48_merge_schema" -> splitUnion)

  test("a source regenerated under the same path never serves a stale layout") {
    val tmp: Path = Files.createTempDirectory("graft-regen")
    val dir = tmp.toString
    try {
      tables.foreach { t =>
        val src = new java.io.File(fixture, s"$t.parquet").toPath
        val dst = tmp.resolve(s"$t.parquet")
        if (Files.isDirectory(src)) {
          Files.createDirectory(dst)
          src.toFile.listFiles().foreach(f =>
            Files.copy(f.toPath, dst.resolve(f.getName)))
        } else Files.copy(src, dst)
      }
      def check(gen: String): Unit = {
        val wrong = cases.filter { case (q, plain) =>
          val got = rows(SparkEntry.queries(q)(spark, dir))
          assert(got.nonEmpty, s"$q ($gen) returned no rows")
          got != rows(plain(dir))
        }.map(_._1)
        assert(wrong.isEmpty,
          s"$gen: rows differ from their store-free form over the current data: $wrong")
      }
      check("first generation")
      // rewrite every source under the SAME path with other content: half
      // the rows, kept by key so the join and both event_id parities stay
      // populated
      val keys = Map("events" -> "event_id", "lineitem" -> "l_orderkey",
        "orders" -> "o_orderkey")
      tables.foreach { t =>
        val half = spark.read.parquet(s"$fixture/$t.parquet")
          .filter(pmod(col(keys(t)), lit(4)) < 2)
        rm(tmp.resolve(s"$t.parquet").toFile)
        half.write.parquet(s"$dir/$t.parquet")
      }
      check("regenerated")
    } finally {
      storesOf(dir).foreach(rm)
      rm(tmp.toFile)
    }
  }

  test("a build that throws publishes nothing; the next call builds the store") {
    val dir = fixture
    val name = "spec_throw"
    storesOf(dir).filter(_.getName.startsWith(s"$name-")).foreach(rm)
    val boom = udf((x: Long) =>
      if (x == 7L) throw new IllegalStateException("build failed") else x)
    intercept[Exception] {
      Tables.cachedDerived(spark, dir, "documents", name)(
        spark.range(0, 16, 1, 4).select(boom($"id").as("v")))
    }
    assert(!Tables.derivedExists(dir, "documents", name),
      "a failed build must leave no store at the final path")
    val root = new java.io.File(sys.props("java.io.tmpdir"), "graft_derived")
    val leftovers = Option(root.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.contains(s"$name-")).toSeq
    assert(leftovers.isEmpty, s"a failed build must leave no temp: $leftovers")
    var builds = 0
    val served = Tables.cachedDerived(spark, dir, "documents", name) {
      builds += 1
      spark.range(16).toDF("v")
    }
    assert(builds == 1 && served.count() == 16L)
    assert(Tables.derivedExists(dir, "documents", name))
    storesOf(dir).filter(_.getName.startsWith(s"$name-")).foreach(rm)
  }
}
