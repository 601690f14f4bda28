package graft.smt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.codec.JsonEnvelope
import graft.model.Connect

/**
 * The Single-Message-Transform (SMT) algebra: the reference's per-record
 * "expression language", re-expressed as pure `DataFrame => DataFrame`
 * functions over the connect-frame convention ([[graft.model.Connect]]).
 *
 * Every transform is tombstone-safe: rows with `value IS NULL` pass
 * through untouched (the reference keeps tombstones with
 * `drop.tombstones=false`, `실습수행/Debezium MySQL CDC Source Connector
 * 실습 - 01.md:306-308`). All are narrow (no shuffle) and stay inside
 * whole-stage codegen, so a chain of N SMTs costs one pass over the data
 * at any scale.
 */
object Smt {

  /** A transform is a pure function; chains compose left-to-right exactly
   * like the reference's ordered `transforms: "a, b, c"` list
   * (`실습수행/JDBC Source Connector 실습.md:445`). */
  type Transform = DataFrame => DataFrame

  def chain(ts: Transform*): Transform =
    ts.reduceOption(_ andThen _).getOrElse(identity[DataFrame])

  /**
   * T1 `ValueToKey`: copy named value field(s) into the key as a struct.
   * Composite keys supported (reference:
   * `connector_configs/mysql_jdbc_om_source_mkey.json:14-16`).
   *
   * Tombstone safety needs care here: `struct()` is never NULL, so
   * building the key from a NULL value would collapse every tombstone
   * onto one all-null key and deletes would route wrong. A tombstone
   * KEEPS the key it arrived with when its shape already matches the
   * requested one (the usual upstream: the frame's key was lifted from
   * the same fields); otherwise a wire frame's tombstone decodes its raw
   * Kafka key ([[graft.model.Connect.WireKeyCol]]) as the requested key
   * — a Debezium `op=d` envelope unwrapped to a tombstone and the Kafka
   * tombstone after it both key the row they delete — and any other
   * tombstone's key becomes NULL, explicitly, not silently corrupted.
   */
  def valueToKey(fields: Seq[String]): Transform = df => {
    val vt = df.schema("value").dataType.asInstanceOf[StructType]
    val newType = StructType(fields.map(f => vt(f)))
    val built = struct(fields.map(f => col(s"value.$f").as(f)).toIndexedSeq: _*)
    // keep-the-key needs field NAMES to match too — at EVERY nesting
    // level, because that is the predicate CaseWhen's analysis applies:
    // a same-shaped struct with a different (possibly nested) field
    // name would fail analysis if we kept col("key")
    def sameTypeNamed(a: DataType, b: DataType): Boolean = (a, b) match {
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall {
          case (f, g) => f.name == g.name && sameTypeNamed(f.dataType, g.dataType)
        }
      case (x: ArrayType, y: ArrayType) =>
        sameTypeNamed(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameTypeNamed(x.keyType, y.keyType) &&
          sameTypeNamed(x.valueType, y.valueType)
      case (x, y) => x == y
    }
    val onTombstone =
      if (sameTypeNamed(df.schema("key").dataType, newType)) col("key")
      else wireKey(df, newType).getOrElse(lit(null).cast(newType))
    df.withColumn("key",
      when(col("value").isNotNull, built).otherwise(onTombstone))
  }

  /** A wire frame's raw Kafka key decoded as `keyType`; None on a frame
   * without one. */
  private def wireKey(df: DataFrame, keyType: StructType): Option[Column] =
    if (!df.columns.contains(Connect.WireKeyCol)) None
    else Some(JsonEnvelope.decodeKey(col(Connect.WireKeyCol), keyType))

  /**
   * T2 `ExtractField$Key`: replace a struct key by one of its fields,
   * yielding a bare scalar key
   * (`connector_configs/mysql_jdbc_om_source_smt.json:19-20`). A wire
   * frame's tombstone whose key field is NULL takes it from its raw
   * Kafka key instead, as [[valueToKey]] does.
   */
  def extractKeyField(field: String): Transform = df => {
    val fromKey = col(s"key.$field")
    val wire = df.schema("key").dataType match {
      case kt: StructType if kt.fieldNames.contains(field) =>
        wireKey(df, StructType(Seq(kt(field)))).map(_.getField(field))
      case _ => None
    }
    df.withColumn("key", wire.fold(fromKey)(w =>
      when(col("value").isNull, coalesce(fromKey, w)).otherwise(fromKey)))
  }

  /** `ExtractField$Value` twin (same Connect SMT class, Value variant). */
  def extractValueField(field: String): Transform = df =>
    df.withColumn("value", col(s"value.$field"))

  /**
   * T3 `RegexRouter`: rewrite the destination topic by regex, e.g.
   * `mysql_om_smt_key_(.*)` -> `mysql_$1`
   * (`실습수행/JDBC Source Connector 실습.md:445-453`) and
   * `(.*)\.(.*)\.(.*)` -> `$1-$2-$3`
   * (`실습수행/Debezium MySQL CDC Source Connector 실습 - 02.md:760-763`).
   * Routing is just a column the sink partitions on — at scale this is a
   * free narrow map, and a sink can `partitionBy("topic")`.
   */
  def regexRouter(pattern: String, replacement: String): Transform = df =>
    df.withColumn("topic", regexp_replace(col("topic"), pattern, replacement))

  /** Target types for [[timestampConverter]], mirroring Connect's
   * `TimestampConverter` `target.type`. */
  sealed trait TsTarget
  object TsTarget {
    case object Timestamp extends TsTarget          // parse string/epoch -> timestamp
    final case class Str(format: String) extends TsTarget // format -> string
    case object Unix extends TsTarget               // -> epoch millis
    case object Date extends TsTarget               // -> date
  }

  /**
   * T4 `TimestampConverter$Value`: convert one *value field* between
   * string/epoch-millis/Timestamp/Date representations using a format,
   * e.g. `"yyyy-MM-dd'T'HH:mm:ss'Z'"` -> Timestamp
   * (`실습수행/Debezium PostgreSQL CDC Source Connector 실습.md:759-764`).
   * Uses `Column.withField` so the value struct is rebuilt in place —
   * narrow, codegen'd, tombstone-safe (`withField` on a NULL struct
   * yields NULL).
   */
  def timestampConverter(field: String, target: TsTarget,
                         sourceFormat: Option[String] = None): Transform = df => {
    val in = col(s"value.$field")
    val inType = df.schema("value").dataType
      .asInstanceOf[StructType](field).dataType
    // normalize ANY input representation to a timestamp first, the way
    // Connect's TimestampConverter does: strings parse with the declared
    // source format FOR EVERY TARGET (a bare cast would silently NULL a
    // non-default format), integers are epoch MILLIS (a bare long cast
    // would read seconds), temporal types cast directly
    val asTs: Column = inType match {
      case StringType =>
        sourceFormat.map(f => to_timestamp(in, f)).getOrElse(to_timestamp(in))
      case LongType | IntegerType => timestamp_millis(in.cast("long"))
      case _ => in.cast(TimestampType)
    }
    val converted: Column = target match {
      case TsTarget.Timestamp => asTs
      case TsTarget.Str(fmt) => date_format(asTs, fmt)
      case TsTarget.Unix => unix_millis(asTs)
      case TsTarget.Date => asTs.cast(DateType)
    }
    df.withColumn("value", col("value").withField(field, converted))
  }

  /**
   * T5 `ExtractNewRecordState` (Debezium unwrap): CDC envelope -> flat row.
   * Keeps `after` (NULL for deletes, i.e. the record becomes a tombstone);
   * with `dropTombstones = false` (the labs' setting) tombstones and
   * delete-rewrites are preserved
   * (`실습수행/Debezium MySQL CDC Source Connector 실습 - 01.md:283-311`).
   * Position-independent: applicable source-side or sink-side.
   */
  def extractNewRecordState(dropTombstones: Boolean = false): Transform = df => {
    val unwrapped = df.withColumn("value",
      when(col("value").isNotNull, col("value.after")))
    if (dropTombstones) unwrapped.filter(col("value").isNotNull) else unwrapped
  }

  /** `InsertField`-style helper (stock Connect SMT family): add a static
   * or derived field to the value struct. */
  def insertValueField(field: String, c: Column): Transform = df =>
    df.withColumn("value", col("value").withField(field, c))

  /** Stock `Filter` SMT analog (predicate over value fields);
   * tombstones pass through so deletes still reach the sink. */
  def filterRecords(predicate: Column): Transform = df =>
    df.filter(col("value").isNull || predicate)

  // ---- record HEADERS ----------------------------------------------------
  // Connect records carry an ordered header collection next to key and
  // value; the frame models it as a map<string,string> column (`headers`)
  // that materializes empty on first touch — absent column = no headers,
  // and every header op is a narrow map expression.

  private def ensureHeaders(df: DataFrame): DataFrame =
    if (df.columns.contains("headers")) df
    else df.withColumn("headers",
      map().cast(MapType(StringType, StringType)))

  /** `InsertHeader`: set a static (or derived) header; replace-on-key
   * like a sink reading the LATEST header value of a key. */
  def insertHeader(name: String, value: Column): Transform = df =>
    ensureHeaders(df).withColumn("headers",
      map_concat(map_filter(col("headers"), (k, _) => k =!= name),
        map(lit(name), value.cast(StringType))))

  /** `HeaderFrom`: copy (or move) value fields into headers. */
  def headerFrom(fields: Seq[String], headers: Seq[String],
                 move: Boolean = false): Transform = df => {
    require(fields.length == headers.length, "fields/headers must align")
    val copied = fields.zip(headers).foldLeft(ensureHeaders(df)) {
      case (d, (f, h)) => insertHeader(h, col("value").getField(f))(d)
    }
    if (move) copied.withColumn("value", col("value").dropFields(fields: _*))
    else copied
  }

  /** `DropHeaders`: remove headers whose key FULL-matches the pattern. */
  def dropHeaders(pattern: String): Transform = df =>
    ensureHeaders(df).withColumn("headers",
      map_filter(col("headers"), (k, _) => !k.rlike(s"^(?:$pattern)$$")))

  /** Connect PREDICATES (`predicates.P.type=...`) — record-level
   * conditions that gate whether an SMT applies (see
   * [[whenPredicate]]). */
  object Predicates {
    /** `HasHeaderKey`: a header with this key exists (records without a
     * headers column have none). */
    def hasHeaderKey(name: String): Column =
      coalesce(map_contains_key(col("headers"), name), lit(false))

    /** `TopicNameMatches`: FULL-match semantics like the Connect
     * predicate (`Pattern.matcher(topic).matches()`), hence the
     * anchoring. */
    def topicNameMatches(pattern: String): Column =
      col("topic").rlike(s"^(?:$pattern)$$")

    /** `RecordIsTombstone`: value is NULL. */
    def recordIsTombstone: Column = col("value").isNull
  }

  /** Conditional SMT application (`transforms.X.predicate=P` +
   * `transforms.X.negate`): records matching the predicate go through
   * the transform, the rest pass unchanged (NULL predicate = not
   * matching, like Connect). The union keeps one narrow pass per
   * branch; a transform that changes the record schema under a
   * predicate fails loudly on the union — same as Connect, where
   * conditionally-diverging schemas break the topic contract. */
  def whenPredicate(pred: Column, t: Transform,
                    negate: Boolean = false): Transform = df0 => {
    // a headers-referencing predicate (HasHeaderKey) on a frame that
    // never grew the column must read as "no headers", not crash with
    // an unresolved column — headers materialize empty on first touch
    // (the module's header contract), and a predicate IS a touch
    val df = ensureHeaders(df0)
    val p = coalesce(if (negate) !pred else pred, lit(false))
    t(df.filter(p)).unionByName(df.filter(!p))
  }

  // ---- remaining stock Connect SMT family --------------------------------
  // (beyond the five the reference configures; same algebra, same
  // tombstone-safety, all narrow)

  /** `MaskField$Value`: null out (or replace) a value field, keeping its
   * type — PII scrubbing. */
  def maskField(field: String, replacement: Option[Column] = None): Transform =
    df => {
      val t = df.schema("value").dataType.asInstanceOf[StructType](field).dataType
      df.withColumn("value", col("value")
        .withField(field, replacement.getOrElse(lit(null)).cast(t)))
    }

  /** `ReplaceField$Value` rename part: rename value fields. */
  def renameFields(renames: Map[String, String]): Transform = df => {
    val vt = df.schema("value").dataType.asInstanceOf[StructType]
    val fields = vt.fields.map { f =>
      col(s"value.${f.name}").as(renames.getOrElse(f.name, f.name))
    }
    df.withColumn("value",
      when(col("value").isNotNull, struct(fields.toIndexedSeq: _*)))
  }

  /** `ReplaceField$Value` exclude part: drop value fields. */
  def excludeFields(fields: Seq[String]): Transform = df =>
    df.withColumn("value", col("value").dropFields(fields: _*))

  /** `ReplaceField$Value` include part: keep ONLY these value fields. */
  def includeFields(fields: Seq[String]): Transform = df => {
    val vt = df.schema("value").dataType.asInstanceOf[StructType]
    val drop = vt.fieldNames.filterNot(fields.contains)
    excludeFields(drop.toIndexedSeq)(df)
  }

  /** `HoistField$Value`: wrap the whole value inside a single-field
   * struct — the inverse of [[extractValueField]]. */
  def hoistField(name: String): Transform = df =>
    df.withColumn("value",
      when(col("value").isNotNull, struct(col("value").as(name))))

  /** `Flatten$Value`: flatten nested value structs into delimited flat
   * fields (`a.b` -> `a_b` with the default delimiter). */
  def flattenValue(delimiter: String = "_"): Transform = df => {
    val vt = df.schema("value").dataType.asInstanceOf[StructType]
    def walk(prefix: String, path: String, t: StructType): Seq[Column] =
      t.fields.toSeq.flatMap { f =>
        val name = if (prefix.isEmpty) f.name else s"$prefix$delimiter${f.name}"
        val p = s"$path.${f.name}"
        f.dataType match {
          case s: StructType => walk(name, p, s)
          case _ => Seq(col(p).as(name))
        }
      }
    df.withColumn("value",
      when(col("value").isNotNull, struct(walk("", "value", vt).toIndexedSeq: _*)))
  }

  /** `Cast$Value`: cast value fields to new types. */
  def castFields(casts: Map[String, DataType]): Transform = df =>
    casts.foldLeft(df) { case (d, (f, t)) =>
      d.withColumn("value", col("value").withField(f, col(s"value.$f").cast(t)))
    }

  /** `TimestampRouter`: route by record time — topic becomes
   * `format` with `$${topic}` and `$${timestamp}` substituted
   * (`yyyyMMdd`-style granularity gives daily topics/partitions). */
  def timestampRouter(ts: Column, format: String = "${topic}-${timestamp}",
                      tsFormat: String = "yyyyMMdd"): Transform = df => {
    val rendered = date_format(ts, tsFormat)
    val token = """\$\{topic\}|\$\{timestamp\}""".r
    val parts = scala.collection.mutable.ArrayBuffer.empty[Column]
    var idx = 0
    for (m <- token.findAllMatchIn(format)) {
      if (m.start > idx) parts += lit(format.substring(idx, m.start))
      parts += (if (m.matched == "${topic}") col("topic") else rendered)
      idx = m.end
    }
    if (idx < format.length) parts += lit(format.substring(idx))
    df.withColumn("topic", concat(parts.toSeq: _*))
  }
}
