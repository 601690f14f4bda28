package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The engine's record model: a Kafka-Connect-style keyed, schema'd record
 * stream re-expressed as DataFrame column conventions.
 *
 * Reference semantics (chulminkw/KafkaConnect): the unit of data is a
 * `(key, value)` pair where each half carries a schema; a record whose
 * value is NULL is a *tombstone* meaning DELETE-by-key at the sink
 * (reference: `실습수행/JDBC Sink Connector 실습.md:333,349`). Each source
 * table maps to one topic (`topic.prefix` + table), and Debezium CDC wraps
 * row images in a `{before, after, source, op, ts_ms}` envelope
 * (`실습수행/Debezium MySQL CDC Source Connector 실습 - 01.md:162-176`).
 *
 * Spark mapping (this engine): a *connect frame* is any DataFrame with
 * columns
 *   - `key`   : scalar or struct — the record key (PK at the sink),
 *   - `value` : struct or NULL   — the record payload; NULL = tombstone,
 *   - `topic` : string           — logical destination,
 *   - `seq`   : long             — monotonically increasing per-key order
 *                                  (Kafka offset analog; drives last-write-wins),
 * plus optional `op` ('c'|'u'|'d'|'r') for CDC provenance. Schemas travel
 * as Catalyst `StructType` on the `value` column — dynamic, like Connect
 * schemas; no case-class Encoders because schemas evolve at runtime.
 */
object Connect {

  val KeyCol = "key"
  val ValueCol = "value"
  val TopicCol = "topic"
  val SeqCol = "seq"
  val OpCol = "op"

  /**
   * Lift a plain table into a connect frame: `value` = struct of all
   * columns, `key` = struct of `keyFields`, `topic` = `topicPrefix+name`,
   * `seq` = the given ordering column (must be unique per key for
   * deterministic last-write-wins, like a Kafka offset).
   */
  def toConnectFrame(df: DataFrame, keyFields: Seq[String], topic: String,
                     seqCol: String): DataFrame = {
    val valueStruct = struct(df.columns.map(col).toIndexedSeq: _*)
    df.select(
      struct(keyFields.map(f => col(f).as(f)).toIndexedSeq: _*).as(KeyCol),
      valueStruct.as(ValueCol),
      lit(topic).as(TopicCol),
      col(seqCol).cast(LongType).as(SeqCol))
  }}
