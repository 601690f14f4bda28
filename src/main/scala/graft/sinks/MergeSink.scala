package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Keyed, idempotent materialization — the reference's JDBC sink semantics
 * (`insert.mode=upsert`, `pk.mode=record_key`, `delete.enabled=true`:
 * `connector_configs/mysql_jdbc_sink_customers.json:1-18`,
 * `실습수행/JDBC Sink Connector 실습.md:331-363`) as engine primitives.
 *
 * Scale notes (the whole point of this class):
 *  - last-per-key uses `groupBy(keys).agg(max_by(...))` — ONE shuffle with
 *    map-side partial aggregation, no sort. A `row_number()` window would
 *    shuffle AND sort every partition; `max_by` keeps only one row per key
 *    per map task, so a 100 TB changelog with 1B keys moves ~1 row/key/task
 *    across the wire, not the full log.
 *  - applying a changelog to a snapshot unions then re-reduces: again one
 *    shuffle, and AQE coalesces post-shuffle partitions at runtime.
 *  - re-delivery is harmless: applying the same batch twice is a no-op
 *    (last-write-wins by `seq` is idempotent) — this is exactly how the
 *    reference turns at-least-once delivery into effectively-exactly-once.
 */
object MergeSink {

  /**
   * Keep the newest record per key ordered by `seqCol` (Kafka-offset
   * analog). `seqCol` must be unique per key — true for any log-derived
   * changelog — making the reduction deterministic.
   */
  def lastPerKey(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(max_by(struct(payload.map(col).toIndexedSeq: _*), col(seqCol)).as("_newest"))
      .select((keys.map(col) ++ payload.map(p => col(s"_newest.$p").as(p))).toIndexedSeq: _*)
  }

  /**
   * Materialize a connect-frame changelog (`key` struct, `value` struct or
   * NULL tombstone, `seq`) into table state: last-write-wins per key, then
   * tombstones delete (`실습수행/JDBC Sink Connector 실습.md:333`).
   * Returns the flat row shape (`value.*` of survivors).
   */
  def materialize(changelog: DataFrame): DataFrame = {
    val keyFields = changelog.schema("key").dataType match {
      case s: StructType => s.fieldNames.toSeq.map(f => s"key.$f")
      case _ => Seq("key")
    }
    val flatKeys = keyFields.map(_.replace('.', '_'))
    val keyed = changelog.select(
      keyFields.zip(flatKeys).map { case (k, a) => col(k).as(a) } ++
        Seq(col("value"), col("seq")): _*)
    lastPerKey(keyed, flatKeys, "seq")
      .filter(col("value").isNotNull)
      .select(col("value.*"))
  }

  /**
   * Apply a changelog batch on top of an existing snapshot (the
   * `foreachBatch` body for a table-state sink). Existing rows get
   * `seq = -1` so any log entry wins; schema drift between snapshot and
   * batch is resolved add-only first ([[SchemaEvolution.unionEvolve]]),
   * mirroring `auto.evolve` (K4).
   */
  def applyBatch(snapshot: DataFrame, changelog: DataFrame,
                 keys: Seq[String]): DataFrame = {
    val asLog = snapshot
      .select(struct(keys.map(col).toIndexedSeq: _*).as("key"),
        struct(snapshot.columns.map(col).toIndexedSeq: _*).as("value"),
        lit(-1L).as("seq"))
    val aligned = SchemaEvolution.alignChangelogs(asLog, changelog)
    materialize(aligned)
  }
}

/**
 * `auto.create` / `auto.evolve` analog (K3/K4): schema drift is resolved
 * add-only — new fields appear as nullable columns, exactly like the
 * reference's `ALTER TABLE ... ADD COLUMN`; drops/renames/retypes are NOT
 * auto-applied (the labs fix those by hand:
 * `실습수행/Debezium MySQL CDC Source Connector 실습 - 03.md:246-341`).
 */
object SchemaEvolution {

  /** What changed between a target schema and an incoming batch schema. */
  final case class Diff(added: Seq[StructField], dropped: Seq[StructField],
                        retyped: Seq[(StructField, StructField)]) {
    def isAddOnly: Boolean = dropped.isEmpty && retyped.isEmpty
  }

  def diff(target: StructType, incoming: StructType): Diff = {
    val t = target.fields.map(f => f.name -> f).toMap
    val i = incoming.fields.map(f => f.name -> f).toMap
    Diff(
      added = incoming.fields.toSeq.filterNot(f => t.contains(f.name)),
      dropped = target.fields.toSeq.filterNot(f => i.contains(f.name)),
      retyped = incoming.fields.toSeq.flatMap(f =>
        t.get(f.name).filter(_.dataType != f.dataType).map(_ -> f)))
  }

  /** Union two batches whose schemas drifted add-only: missing columns are
   * NULL-padded (Spark's `unionByName(allowMissingColumns = true)` IS the
   * add-only evolution semantics — narrow, no shuffle). */
  def unionEvolve(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)

  /** Align two connect-frame changelogs whose `value` struct schemas
   * drifted add-only, then union them. Top-level columns may differ too
   * (e.g. a snapshot-derived log has no `topic`): missing ones NULL-pad. */
  def alignChangelogs(a: DataFrame, b: DataFrame): DataFrame = {
    val va = a.schema("value").dataType.asInstanceOf[StructType]
    val vb = b.schema("value").dataType.asInstanceOf[StructType]
    val merged = StructType(va.fields ++
      vb.fields.filterNot(f => va.fieldNames.contains(f.name))
        .map(_.copy(nullable = true)))
    def pad(df: DataFrame, from: StructType): DataFrame = {
      val fields = merged.fields.map { f =>
        if (from.fieldNames.contains(f.name)) col(s"value.${f.name}").as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      df.withColumn("value",
        when(col("value").isNotNull, struct(fields.toIndexedSeq: _*)))
    }
    pad(a, va).unionByName(pad(b, vb), allowMissingColumns = true)
  }

  /** `CREATE TABLE IF NOT EXISTS` DDL from a Spark schema (K3
   * `auto.create`, `connector_configs/mysql_jdbc_sink_customers_00.json:17`). */
  def createTableDdl(table: String, schema: StructType, pks: Seq[String]): String = {
    val cols = schema.fields.map { f =>
      val notNull = if (!f.nullable || pks.contains(f.name)) " NOT NULL" else ""
      s"${f.name} ${sqlType(f.dataType)}$notNull"
    }
    val pk = if (pks.nonEmpty) s", PRIMARY KEY (${pks.mkString(", ")})" else ""
    s"CREATE TABLE $table (${cols.mkString(", ")}$pk)"
  }

  /** add-only `ALTER TABLE` statements for a diff (K4 `auto.evolve`). */
  def evolveDdl(table: String, d: Diff): Seq[String] =
    d.added.map(f => s"ALTER TABLE $table ADD COLUMN ${f.name} ${sqlType(f.dataType)}")

  /**
   * C4 — registry-compatibility report: classify each schema change the
   * way the reference's Schema Registry would under BACKWARD
   * compatibility (the default): adding an OPTIONAL field is compatible
   * (a required add breaks new readers on old data), deleting a field
   * is compatible (new readers simply ignore old data's extra field),
   * retypes are breaking. A rename is a delete + required add — which
   * is why the labs set compatibility NONE to force one through
   * (`실습수행/Schema Registry 기반의 Connector 구성 실습.md:533-537`).
   * Rows: (change, field, type, compatible).
   */
  def compatReport(target: StructType, incoming: StructType): Seq[(String, String, String, Boolean)] = {
    val d = diff(target, incoming)
    d.added.toSeq.map(f =>
      ("add", f.name, sqlType(f.dataType), f.nullable)) ++
      d.dropped.toSeq.map(f => ("drop", f.name, sqlType(f.dataType), true)) ++
      d.retyped.map { case (from, to) =>
        ("retype", to.name, s"${sqlType(from.dataType)}->${sqlType(to.dataType)}", false)
      }
  }

  private[sinks] def sqlType(dt: DataType): String = dt match {
    case IntegerType => "INTEGER"
    case LongType => "BIGINT"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case StringType => "VARCHAR(4000)"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case BinaryType => "BLOB"
    case other => other.sql
  }
}
