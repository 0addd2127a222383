package graft.encode

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** NDJSON projection/serialization — the Spark twin of the reference's
  * `mapEvent` (s12v/awsbeats streams/client.go:127-154,
  * firehose/client.go:111-137).
  *
  * Contract preserved from the reference:
  *   - one JSON object per event, compact (no pretty-print, no HTML escaping
  *     — the codec config at streams/client.go:38-41 ≈ `to_json` defaults);
  *   - a trailing '\n' appended to every record so a Kinesis→Firehose→S3
  *     pipeline lands valid line-delimited JSON for Athena (the explicit
  *     rationale comment at streams/client.go:139-144);
  *   - the record is (data, partition_key) for streams (client.go:153) and
  *     data-only for firehose (firehose/client.go:136).
  *
  * `to_json(struct(*))` is a codegen'd Catalyst expression — serialization
  * stays inside WholeStageCodegen, no per-row UDF cost, and the projection
  * is narrow (no shuffle) at any scale.
  */
object Ndjson {

  /** The NDJSON `data` column over the named columns: their compact JSON
    * object plus the trailing '\n' — the one record encoder every publish
    * path projects. */
  def data(columns: Seq[String]): Column =
    concat(to_json(struct(columns.map(col): _*)), lit("\n")).as("data")

  /** Serialize all columns of `df` to an NDJSON `data` column (P1/P2). */
  def encode(df: DataFrame): DataFrame =
    df.select(data(df.columns.toIndexedSeq))

  /** Streams-shaped record: (data, partition_key) — P1 + K1/K2. */
  def encodeKeyed(df: DataFrame, key: Column): DataFrame =
    df.select(data(df.columns.toIndexedSeq), key.cast("string").as("partition_key"))

  /** Decode side (S2): parse NDJSON lines in PERMISSIVE mode, splitting
    * parse failures onto a dropped side-output — the engine twin of
    * `mapEvents`' encode-failure drop + count (streams/client.go:109-125)
    * and filebeat's `json.add_error_key` (example/streams/filebeat.yml:13-14).
    * Returns (parsed, corrupt). */
  def parseLines(lines: DataFrame, schema: StructType): (DataFrame, DataFrame) = {
    val corruptCol = "_corrupt_record"
    val withCorrupt = lines.select(
      from_json(col("value"), schema.add(corruptCol, "string"),
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corruptCol)).as("ev"),
      col("value"))
    val parsed = withCorrupt
      .filter(col("ev").isNotNull && col(s"ev.$corruptCol").isNull)
      .select(schema.fieldNames.map(f => col(s"ev.$f").as(f)).toIndexedSeq: _*)
    val corrupt = withCorrupt
      .filter(col("ev").isNull || col(s"ev.$corruptCol").isNotNull)
      .select("value")
    (parsed, corrupt)
  }
}
