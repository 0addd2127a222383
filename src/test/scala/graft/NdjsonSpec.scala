package graft

import graft.encode.Ndjson
import graft.keys.PartitionKeys
import graft.config.StreamsConfig
import graft.streaming.Pipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Port of the mapEvent/mapEvents contract tests
  * (streams/client_test.go:64-107, firehose/client_test.go:17-42): every
  * record is compact JSON terminated by exactly one '\n'. */
class NdjsonSpec extends SparkSpec {
  import spark.implicits._

  test("encode: newline contract — data is JSON + trailing newline") {
    val df = Seq(("boom", 1L)).toDF("message", "n")
    val out = Ndjson.encode(df).as[String].collect()
    assert(out.length == 1)
    assert(out.head == """{"message":"boom","n":1}""" + "\n")
  }

  test("encodeKeyed: (data, partition_key) record shape") {
    val df = Seq(("boom", "k1")).toDF("message", "part")
    val row = Ndjson.encodeKeyed(df, col("part")).collect().head
    assert(row.getAs[String]("data") == """{"message":"boom","part":"k1"}""" + "\n")
    assert(row.getAs[String]("partition_key") == "k1")
  }

  test("parseLines: corrupt rows split to side output and counted") {
    val schema = StructType(Seq(
      StructField("message", StringType), StructField("n", LongType)))
    val lines = Seq(
      """{"message":"ok","n":1}""",
      """{"message":"ok2","n":2}""",
      """{not json at all""").toDF("value")
    val (parsed, corrupt) = Ndjson.parseLines(lines, schema)
    assert(parsed.count() == 2)
    assert(parsed.columns.toSeq == Seq("message", "n"))
    assert(corrupt.as[String].collect().toSeq == Seq("""{not json at all"""))
  }

  test("publish round-trip: encode then parse is lossless for valid events") {
    val df = Seq(("a", 1L), ("b", 2L)).toDF("message", "n")
    val encoded = Ndjson.encode(df)
    val schema = df.schema
    val lines = encoded.select(expr("rtrim('\n', data)").as("value"))
    val (parsed, corrupt) = Ndjson.parseLines(lines, schema)
    assert(corrupt.count() == 0)
    assert(parsed.orderBy("n").collect().map(_.toSeq).toSeq ==
      Seq(Seq("a", 1L), Seq("b", 2L)))
  }
}

/** Port of the partition-key provider tests
  * (streams/client_test.go:32-62, streams/partition_key_test.go:10-21). */
class PartitionKeySpec extends SparkSpec {
  import spark.implicits._

  // the field provider through the publish transform's own key split
  private def fieldCfg(path: String) = StreamsConfig("r", "s", partitionKey = path)

  test("field provider: string field value becomes the key") {
    val df = Seq(("v1", 1L), ("v2", 2L)).toDF("mykey", "n")
    val (ok, dropped) = Pipeline.publishTransform(df, fieldCfg("mykey"))
    assert(ok.select("partition_key").as[String].collect().sorted.toSeq == Seq("v1", "v2"))
    assert(dropped.count() == 0)
  }

  test("field provider: dotted-path lookup into nested structs") {
    val df = Seq(("x", "inner")).toDF("a", "b")
      .select(struct(col("b").as("c")).as("nested"), col("a"))
    val key = PartitionKeys.fieldKey(df.schema, "nested.c")
    assert(df.select(key).as[String].collect().toSeq == Seq("inner"))
  }

  test("field provider: non-string field -> dropped (no implicit cast)") {
    val df = Seq((7L, "x")).toDF("numkey", "payload")
    val (ok, dropped) = Pipeline.publishTransform(df, fieldCfg("numkey"))
    assert(ok.count() == 0 && dropped.count() == 1)
  }

  test("field provider: missing field -> dropped") {
    val df = Seq(("x", 1L)).toDF("a", "n")
    val (ok, dropped) = Pipeline.publishTransform(df, fieldCfg("no.such.field"))
    assert(ok.count() == 0 && dropped.count() == 1)
  }

  test("field provider: null value at runtime -> dropped") {
    val df = Seq(Some("k"), None).map(v => Tuple1(v.orNull)).toDF("mykey")
    val (ok, dropped) = Pipeline.publishTransform(df, fieldCfg("mykey"))
    assert(ok.count() == 1 && dropped.count() == 1)
  }

  test("xid provider: keys are non-empty, unique, and differ from fields") {
    val df = (1 to 100).map(i => (s"v$i", i.toLong)).toDF("mykey", "n")
    val keys = df.select(PartitionKeys.xidKey.as("k")).as[String].collect()
    assert(keys.forall(_.nonEmpty))
    assert(keys.distinct.length == 100)
    assert(!keys.contains("v1"))
  }

  test("provider dispatch: xid when configured, field otherwise (K3)") {
    val df = Seq(("v1", 1L)).toDF("mykey", "n")
    val xidCfg = StreamsConfig("r", "s", partitionKey = "mykey", partitionKeyProvider = "xid")
    val fieldCfg = StreamsConfig("r", "s", partitionKey = "mykey")
    val xk = df.select(PartitionKeys.forConfig(xidCfg, df.schema).as("k")).as[String].head()
    val fk = df.select(PartitionKeys.forConfig(fieldCfg, df.schema).as("k")).as[String].head()
    assert(xk != "v1" && xk.nonEmpty)
    assert(fk == "v1")
  }
}
