package graft.keys

import graft.config.StreamsConfig
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Partition-key providers — the Spark twin of
  * s12v/awsbeats streams/partition_key.go.
  *
  * Reference semantics preserved exactly:
  *   - field provider (partition_key.go:20-39): dotted-path lookup; a missing
  *     field or a non-string value is an ERROR and the event is dropped
  *     (surfaced at streams/client.go:148-151). No implicit casting — here a
  *     non-string schema type or null value yields a NULL key column, and
  *     [[graft.streaming.Pipeline.publishTransform]] routes those rows to the
  *     dropped side-output.
  *   - xid provider (partition_key.go:41-47): a globally-unique, time-sortable
  *     key per event for uniform shard spread. Implemented as the native
  *     codegen'd [[graft.functions.Xid]] Catalyst expression with rs/xid
  *     byte-format parity (4B big-endian seconds + 3B machine + 2B pid +
  *     3B counter, base32-hex encoded — see Xid.scala for the test vector).
  *
  * Inside the engine, hash-partitioning on the key column
  * (`df.repartition(col)`) is the analogue of Kinesis shard routing (SURVEY
  * §2.4 K1): at 1000 executors the key's cardinality/skew decides balance,
  * which is why xid (unique ⇒ uniform) is the throughput-biased default.
  */
object PartitionKeys {

  /** Strict-string dotted-path key (K1). NULL when the path is absent in the
    * schema, the static type is not string, or the value is null at runtime —
    * mirroring the reference's "error ⇒ drop" (partition_key.go:27-36). */
  def fieldKey(schema: StructType, path: String): Column = {
    def typeAt(st: StructType, parts: List[String]): Option[org.apache.spark.sql.types.DataType] =
      parts match {
        case Nil => None
        case p :: rest =>
          st.fields.find(_.name == p).flatMap { f =>
            (rest, f.dataType) match {
              case (Nil, dt) => Some(dt)
              case (_, nested: StructType) => typeAt(nested, rest)
              case _ => None
            }
          }
      }
    typeAt(schema, path.split('.').toList) match {
      case Some(StringType) => col(path)
      case _ => lit(null).cast(StringType)
    }
  }

  /** Generated time-sortable unique key (K2): the native xid expression —
    * byte-format parity with rs/xid (partition_key.go:45-47), codegen'd,
    * nondeterministic by design. See [[graft.functions.Xid]]. */
  def xidKey: Column = graft.functions.functions.xid()

  /** Provider dispatch (K3 — streams/client.go:49-55): "xid" ⇒ generated,
    * anything else ⇒ field provider (even when the key field is empty). */
  def forConfig(cfg: StreamsConfig, schema: StructType): Column =
    if (cfg.partitionKeyProvider == "xid") xidKey
    else fieldKey(schema, cfg.partitionKey)
}
