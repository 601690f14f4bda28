package graft.codec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * C1/C2 — the Connect `JsonConverter` pair:
 *
 *  - `schemas.enable=true` (default): every message is a
 *    `{"schema": <connect schema>, "payload": <row>}` envelope; wire proof
 *    of the shape incl. a schema'd tombstone key:
 *    `{"schema":{"type":"int32","optional":false},"payload":3}`
 *    (`실습수행/JDBC Sink Connector 실습.md:349`).
 *  - `schemas.enable=false`: bare JSON payload
 *    (`connector_configs/mysql_jdbc_om_source_noschema.json:22-25`).
 *
 * Logical types follow the Connect wire format (SURVEY.md §1.3): Timestamp
 * = int64 epoch millis, Date = int32 epoch days, Decimal = base64 of the
 * minimal big-endian two's-complement unscaled bytes (exactly
 * `BigInteger.toByteArray`). Encoding composes `to_json` (codegen'd) with
 * a constant schema header — the schema member is per-plan constant and
 * every logical-type conversion below is a built-in codegen'd expression,
 * so at 100 TB the per-row cost is the payload serialization Spark would
 * do anyway.
 */
object JsonEnvelope {

  /** Spark type -> Connect wire schema JSON (SURVEY.md §1.3 mapping). */
  def connectSchemaJson(dt: DataType, optional: Boolean = false): String = {
    val opt = s""""optional":$optional"""
    dt match {
      case ByteType => s"""{"type":"int8",$opt}"""
      case ShortType => s"""{"type":"int16",$opt}"""
      case IntegerType => s"""{"type":"int32",$opt}"""
      case LongType => s"""{"type":"int64",$opt}"""
      case FloatType => s"""{"type":"float",$opt}"""
      case DoubleType => s"""{"type":"double",$opt}"""
      case BooleanType => s"""{"type":"boolean",$opt}"""
      case StringType => s"""{"type":"string",$opt}"""
      case BinaryType => s"""{"type":"bytes",$opt}"""
      case d: DecimalType =>
        s"""{"type":"bytes","name":"org.apache.kafka.connect.data.Decimal","parameters":{"scale":"${d.scale}"},$opt}"""
      case DateType =>
        s"""{"type":"int32","name":"org.apache.kafka.connect.data.Date",$opt}"""
      case TimestampType | TimestampNTZType =>
        s"""{"type":"int64","name":"org.apache.kafka.connect.data.Timestamp",$opt}"""
      case s: StructType =>
        val fields = s.fields.map { f =>
          val inner = connectSchemaJson(f.dataType, f.nullable)
          // splice the field name into the member schema
          inner.patch(1, s""""field":"${f.name}",""", 0)
        }
        s"""{"type":"struct","fields":[${fields.mkString(",")}],$opt}"""
      case a: ArrayType =>
        s"""{"type":"array","items":${connectSchemaJson(a.elementType, a.containsNull)},$opt}"""
      case m: MapType =>
        // keys are declared STRING to match the wire: JSON object keys
        // are always strings (the logical key type travels out-of-band;
        // real Connect sidesteps this with array-of-pairs maps — a
        // documented divergence, not a schema/payload mismatch)
        s"""{"type":"map","keys":${connectSchemaJson(StringType)},"values":${connectSchemaJson(m.valueType, m.valueContainsNull)},$opt}"""
      case other =>
        throw new IllegalArgumentException(s"no Connect mapping for $other")
    }
  }

  // ---- logical-type wire mapping -----------------------------------------

  private val EpochDay = to_date(lit("1970-01-01"))

  /** Decimals with precision ≤ 18 run the built-in long-arithmetic leg
   * (unscaled fits int64); wider ones (to Spark's max 38) run the
   * [[graft.functions.DecimalUnscaledBytes]] codegen pair. Both produce
   * the same wire bytes — `BigInteger.toByteArray` of the unscaled
   * value — so the split is an implementation detail, not a format. */
  private def fitsLong(d: DecimalType): Boolean = d.precision <= 18

  /** The Spark type a value has ON THE WIRE (inside the JSON payload).
   * Map keys are strings on the wire — JSON object keys always are. */
  def wireType(dt: DataType): DataType = dt match {
    case TimestampType | TimestampNTZType => LongType
    case DateType => IntegerType
    case _: DecimalType => BinaryType
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = wireType(f.dataType))))
    case a: ArrayType => a.copy(elementType = wireType(a.elementType))
    case m: MapType =>
      m.copy(keyType = StringType, valueType = wireType(m.valueType))
    case other => other
  }

  private def requireCodecableMapKey(dt: DataType): Unit = dt match {
    case _: DecimalType | BinaryType | _: StructType | _: ArrayType | _: MapType =>
      throw new IllegalArgumentException(
        s"JSON map keys must be scalar string/numeric/temporal; got $dt")
    case _ => ()
  }

  /** Minimal big-endian two's-complement bytes of a long — exactly
   * `BigInteger.valueOf(v).toByteArray`. `hex()` of a negative long is the
   * full 16-digit two's complement; the regex strips redundant leading FF
   * bytes while the next byte keeps the sign bit. Positive values pad to
   * whole bytes and gain a 00 byte when the top bit would read as a sign. */
  private def longToMinimalBytes(lng: Column): Column = {
    val h = hex(lng)
    val padded = when(length(h) % 2 === 1, concat(lit("0"), h)).otherwise(h)
    val pos = when(substring(padded, 1, 1).rlike("[89A-F]"),
      concat(lit("00"), padded)).otherwise(padded)
    val neg = regexp_replace(h, "^(FF)+(?=[89A-F])", "")
    unhex(when(lng < 0, neg).otherwise(pos))
  }

  /** Inverse of [[longToMinimalBytes]], returning DECIMAL(38,0) (sign via
   * two's complement: unsigned - 2^bits when the top bit is set). */
  private def minimalBytesToDecimal(bin: Column): Column = {
    val h = hex(bin)
    val unsigned = conv(h, 16, 10).cast(DecimalType(38, 0))
    val negative = substring(h, 1, 1).rlike("[89A-F]")
    val modulus = pow(lit(2.0), length(h) * 4).cast(DecimalType(38, 0))
    when(negative, unsigned - modulus).otherwise(unsigned)
  }

  /** Epoch millis of an NTZ wall-clock read AS UTC — pure field
   * arithmetic, zero zone-offset lookups. The cast+from_utc_timestamp
   * formulation resolved the session offset at two different instants
   * (the wall-clock and the shifted instant), which mis-encodes
   * wall-clocks near a DST transition by the DST delta; date/hour/
   * minute/second of an NTZ value are zone-free by definition. */
  private def ntzToEpochMillis(c: Column): Column = {
    val days = datediff(c.cast(DateType), EpochDay).cast(LongType)
    // date_part SECOND carries the fractional part (micros precision);
    // ×1000 then long-cast truncates to the wire's millis
    val msOfDay = hour(c).cast(LongType) * 3600000L +
      minute(c).cast(LongType) * 60000L +
      (date_part(lit("SECOND"), c) * 1000).cast(LongType)
    days * 86400000L + msOfDay
  }

  /** Inverse of [[ntzToEpochMillis]]: epoch millis → the NTZ wall-clock
   * those millis show in UTC. pmod keeps the intra-day part non-negative
   * for pre-1970 instants; interval arithmetic on NTZ is zone-free. */
  private def epochMillisToNtz(c: Column): Column = {
    val msOfDay = pmod(c, lit(86400000L))
    val days = ((c - msOfDay).cast(DecimalType(24, 0)) / 86400000L)
      .cast(IntegerType)
    val base = date_add(EpochDay, days).cast(TimestampNTZType)
    base + make_dt_interval(lit(0), lit(0), lit(0),
      msOfDay.cast(DecimalType(14, 3)) / 1000)
  }

  /** Convert a column to its wire representation (nulls propagate). */
  def toWire(c: Column, dt: DataType): Column = dt match {
    case TimestampType => unix_millis(c)
    case TimestampNTZType => ntzToEpochMillis(c)
    case DateType => datediff(c, EpochDay)
    case d: DecimalType if fitsLong(d) =>
      longToMinimalBytes((c * lit(BigDecimal(10).pow(d.scale))).cast(LongType))
    case d: DecimalType =>
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.DecimalUnscaledBytes(
          org.apache.spark.sql.graft.ColumnBridge.expression(c), d.scale))
    case s: StructType =>
      when(c.isNotNull, struct(s.fields.toIndexedSeq.map(f =>
        toWire(c.getField(f.name), f.dataType).as(f.name)): _*))
    case a: ArrayType => transform(c, x => toWire(x, a.elementType))
    case m: MapType =>
      requireCodecableMapKey(m.keyType)
      transform_values(
        transform_keys(c, (k, _) => toWire(k, m.keyType).cast(StringType)),
        (_, v) => toWire(v, m.valueType))
    case _ => c
  }

  /** Convert a wire-typed column back to its Spark type. */
  def fromWire(c: Column, dt: DataType): Column = dt match {
    case TimestampType => timestamp_millis(c)
    case TimestampNTZType => epochMillisToNtz(c)
    case DateType => date_add(EpochDay, c)
    case d: DecimalType if fitsLong(d) =>
      (minimalBytesToDecimal(c) / lit(BigDecimal(10).pow(d.scale)))
        .cast(d)
    case d: DecimalType =>
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.UnscaledBytesDecimal(
          org.apache.spark.sql.graft.ColumnBridge.expression(c),
          d.precision, d.scale))
    case s: StructType =>
      when(c.isNotNull, struct(s.fields.toIndexedSeq.map(f =>
        fromWire(c.getField(f.name), f.dataType).as(f.name)): _*))
    case a: ArrayType => transform(c, x => fromWire(x, a.elementType))
    case m: MapType =>
      // wire keys are JSON strings: cast back through the scalar wire
      // type, then reverse the logical conversion (same key-type
      // restriction as encode — inbound messages fail loudly too)
      requireCodecableMapKey(m.keyType)
      transform_values(
        transform_keys(c, (k, _) =>
          fromWire(k.cast(wireScalar(m.keyType)), m.keyType)),
        (_, v) => fromWire(v, m.valueType))
    case _ => c
  }

  /** Scalar wire type for map keys (strings on the wire). */
  private def wireScalar(dt: DataType): DataType = dt match {
    case TimestampType | TimestampNTZType => LongType
    case DateType => IntegerType
    case other => other
  }

  // ---- encode / decode ---------------------------------------------------

  /** Encode a struct column as a schema'd envelope string
   * (`schemas.enable=true`). NULL input (tombstone) encodes as SQL NULL —
   * an absent Kafka value, not the string "null". */
  def encodeWithSchema(c: Column, schema: DataType): Column = {
    val header = lit(s"""{"schema":${connectSchemaJson(schema)},"payload":""")
    when(c.isNotNull, concat(header, to_json(toWire(c, schema)), lit("}")))
  }

  /** Encode bare (`schemas.enable=false`). Logical types still travel in
   * wire form (epoch millis/days, base64 decimal) — without a schema
   * member there is nothing else a reader could interpret. */
  def encodeSchemaless(c: Column, schema: DataType): Column =
    when(c.isNotNull, to_json(toWire(c, schema)))

  /**
   * Decode a message: enveloped (`schemas.enable=true`) takes `$.payload`,
   * bare parses the whole document. `schemasEnable = None` sniffs the
   * `schema` member — NOT the payload one, so a bare message that happens
   * to contain a "payload" field decodes correctly, and an enveloped
   * message whose payload is JSON null yields a tombstone.
   */
  def decode(c: Column, schema: DataType,
             schemasEnable: Option[Boolean] = None): Column = {
    val payload = schemasEnable match {
      case Some(true) => get_json_object(c, "$.payload")
      case Some(false) => c
      case None => when(get_json_object(c, "$.schema").isNotNull,
        get_json_object(c, "$.payload")).otherwise(c)
    }
    fromWire(from_json(payload, wireType(schema)), schema)
  }

  /**
   * Decode a Kafka KEY as a `keySchema` struct. The envelope sniff
   * strips `{schema,payload}`; whether the rest is a JSON OBJECT decides
   * the path: an object parses with `keySchema`, a bare scalar (from_json
   * of a non-object returns a non-null all-null struct — useless) parses
   * via a one-element JSON array, so numbers AND quoted strings both land
   * typed in a single-field key. A scalar against a multi-field key is
   * NULL.
   */
  def decodeKey(raw: Column, keySchema: StructType): Column = {
    val payload = when(get_json_object(raw, "$.schema").isNotNull,
      get_json_object(raw, "$.payload")).otherwise(raw)
    val scalar =
      if (keySchema.size == 1)
        struct(element_at(
          from_json(concat(lit("["), payload, lit("]")),
            ArrayType(keySchema.head.dataType)),
          1).as(keySchema.head.name))
      else lit(null).cast(keySchema)
    when(substring(ltrim(payload), 1, 1) === "{", decode(raw, keySchema))
      .otherwise(scalar)
  }

  /**
   * Classified decode — the converter half of Connect's error-handling
   * surface (`errors.tolerance=all` + dead-letter-queue routing; the
   * spooldir source's error channel is the same idea at the file stage).
   * Returns `struct(value, error_class)`: `error_class` is NULL for a
   * clean decode (including tombstones — an absent value or an explicit
   * `"payload":null` is DATA, not an error), otherwise one of
   *  - `malformed_envelope` — the message isn't a schema'd envelope
   *    (truncated/unparseable JSON, or no `schema` member),
   *  - `missing_payload`   — valid envelope, `payload` member absent,
   *  - `payload_parse`     — payload present but doesn't parse as the
   *    declared wire type.
   * All classification is codegen'd column logic over the same
   * `get_json_object`/`from_json` calls the happy path already makes —
   * no second parse of clean rows.
   */
  def decodeClassified(c: Column, schema: DataType): Column = {
    val wt = wireType(schema) match {
      case s: StructType => s
      case other => throw new IllegalArgumentException(
        s"classified decode expects a struct value schema, got $other")
    }
    // PERMISSIVE from_json never yields a null struct for a
    // wrong-typed payload — it fills the declared corrupt-record
    // column instead, which is the reliable parse-failure signal
    val corruptCol = "_corrupt_record"
    val parsedC = from_json(get_json_object(c, "$.payload"),
      wt.add(corruptCol, StringType),
      Map("columnNameOfCorruptRecord" -> corruptCol))
    val schemaMember = get_json_object(c, "$.schema")
    val payload = get_json_object(c, "$.payload")
    // structural presence check: a tombstone HAS a top-level `payload`
    // key extracting as SQL NULL; substring matching would false-positive
    // on a nested `"payload": null` inside a schemaless value
    val tombstonePayload = array_contains(json_object_keys(c), "payload")
    val wireStruct = when(parsedC.isNotNull, struct(
      wt.fields.toIndexedSeq.map(f => parsedC.getField(f.name).as(f.name)): _*))
    val parsed = fromWire(wireStruct, schema)
    val errorClass =
      when(c.isNull, lit(null).cast(StringType))
        .when(schemaMember.isNull, lit("malformed_envelope"))
        .when(payload.isNull && !tombstonePayload, lit("missing_payload"))
        // explicit "payload":null is a tombstone (payload extracts as
        // SQL NULL), so the parse check must only fire on a present one
        .when(payload.isNotNull &&
            (parsedC.isNull || parsedC.getField(corruptCol).isNotNull),
          lit("payload_parse"))
    struct(when(errorClass.isNull, parsed).as("value"),
      errorClass.as("error_class"))
  }

  /**
   * Split a wire frame into (good, dlq) — `errors.tolerance=all` with
   * `errors.deadletterqueue.topic.name=dlqTopic`: clean rows continue
   * with the decoded value; failed rows re-topic to the DLQ carrying
   * the RAW message plus the context a Connect DLQ header block carries
   * (source topic, error class, failing stage). The two returned frames
   * share one classified projection PLAN, but they are separate plans:
   * a caller materializing both sides independently scans (and
   * classifies) the source twice — persist the input, or write both
   * sides in one `foreachBatch`, when that matters (inside the engine's
   * micro-batches the batch is already pinned, so there the split truly
   * is one pass).
   */
  def routeDlq(df: DataFrame, schema: DataType,
               dlqTopic: String): (DataFrame, DataFrame) = {
    val tagged = df.withColumn("_c", decodeClassified(col("value"), schema))
    val good = tagged.filter(col("_c.error_class").isNull)
      .withColumn("value", col("_c.value")).drop("_c")
    val dlq = tagged.filter(col("_c.error_class").isNotNull)
      .select(col("key"), col("value").as("raw_value"),
        lit(dlqTopic).as("topic"),
        struct(col("topic").as("source_topic"),
          col("_c.error_class").as("error_class"),
          lit("VALUE_CONVERTER").as("stage")).as("error_context"),
        col("seq"))
    (good, dlq)
  }

  /** Round-trip a connect frame's `value` through the envelope (identity
   * up to schema nullability) — the C1 source->topic->sink path. */
  def roundTrip(df: DataFrame): DataFrame = {
    val schema = df.schema("value").dataType
    df.withColumn("_wire", encodeWithSchema(col("value"), schema))
      .withColumn("value", decode(col("_wire"), schema, Some(true)))
      .drop("_wire")
  }

  /** Schemaless round-trip (C2). */
  def roundTripSchemaless(df: DataFrame): DataFrame = {
    val schema = df.schema("value").dataType
    df.withColumn("_wire", encodeSchemaless(col("value"), schema))
      .withColumn("value", decode(col("_wire"), schema, Some(false)))
      .drop("_wire")
  }
}
