package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, StructType}

import graft.smt.Smt
import scala.jdk.CollectionConverters._

/**
 * L1 — the connector-config analog: a pipeline is declared as JSON
 * (source + ordered SMT chain + sink + cadence), registered with the
 * [[Engine]]. Mirrors the reference's REST payloads
 * (the `connector_configs` JSON files, `scripts/register_connector:1`): where a
 * Connect config says `connector.class` + `transforms` + `topics`, a
 * graft spec says source/transforms/sink.
 *
 * Example:
 * {{{
 * {
 *   "name": "csv_to_table",
 *   "source": {"type": "csv", "path": "/in", "schemaDdl": "id INT, v STRING, seq LONG"},
 *   "transforms": [
 *     {"type": "valueToKey", "fields": ["id"]},
 *     {"type": "regexRouter", "pattern": "om_(.*)", "replacement": "$1"}
 *   ],
 *   "sink": {"type": "table", "path": "/out", "keys": ["id"], "seqColumn": "seq"},
 *   "triggerMs": 1000
 * }
 * }}}
 */
final case class PipelineSpec(
    name: String,
    source: SourceSpec,
    transforms: Seq[TransformSpec],
    sink: SinkSpec,
    triggerMs: Option[Long])

final case class SourceSpec(
    kind: String,             // csv | parquet | rate
    path: String,
    schemaDdl: Option[String],     // CSV/parquet stream schema (DDL string)
    keyFields: Seq[String],        // lifted into the connect frame key
    seqColumn: Option[String],     // ordering column (Kafka-offset analog)
    topic: String,
    maxFilesPerTrigger: Int = 3,   // tasks.max / poll batch analog
    // PostgreSQL-CDC semantics for key-less tables (`실습수행/Debezium
    // PostgreSQL CDC Source Connector 실습.md:339-353`): deletes from a
    // PK-less published table are rejected by the database unless
    // REPLICA IDENTITY FULL is set; with it, the delete event's key is
    // the FULL row image. Declaring it here makes the engine enforce
    // the same contract (and key tombstones by the whole row).
    replicaIdentityFull: Boolean = false,
    // S7 as a LIFECYCLE (`snapshot.mode`, `실습수행/Debezium MySQL CDC
    // Source Connector 실습 - 03.md:387-488`): "initial" backfills the
    // current state of `snapshotPath` through the sink ONCE — on first
    // start only — before the change stream begins; a restart on the
    // same checkpoint skips straight to streaming, and an offset reset
    // (which wipes the checkpoint) re-snapshots, exactly Debezium's
    // re-snapshot-after-offset-delete behavior. "schema_only" (and
    // absent) = changes only.
    snapshotMode: Option[String] = None,
    snapshotPath: Option[String] = None,
    // r18 — the value.converter analog for FILE transports: when set,
    // the staged files are WIRE records in the Kafka dump shape
    // (columns `key`/`value`/`topic`/`offset`, value carrying the C1
    // `{schema,payload}` JSON envelope of each record), and the frame
    // decodes `value` with `schemaDdl` as the record schema — exactly
    // what the kafka source does, applied to a spooled topic dump. A
    // null value stays a tombstone; an UNDECODABLE value fails the
    // task (Connect's errors.tolerance=none default) unless the sink
    // declares errorsTolerance=all, which routes it to the DLQ instead.
    wireFormat: Option[String] = None,
    // r19 — the wire-decode parallelism dial: a staged topic dump lands
    // as few (often single-row-group) files, so the converter's
    // per-record envelope parse — the dominant per-row cost of a wire
    // batch — runs on ONE core per trigger. When set (> 1) the raw wire
    // rows repartition to this many partitions BEFORE the decode,
    // spreading the parse across cores; the shuffle moves only the
    // undecoded strings. Size it to the trigger's record count (a few
    // hundred records per partition amortizes task overhead). Default
    // off: a wide production source is already partitioned and must not
    // be down-partitioned by a static exchange.
    decodeParallelism: Option[Int] = None) {
  def schema: Option[StructType] =
    schemaDdl.map(d => DataType.fromDDL(d).asInstanceOf[StructType])
}

final case class TransformSpec(kind: String, args: Map[String, String],
                               fields: Seq[String]) {
  /** Resolve to the pure SMT function (T1-T6 + Filter/Insert). The
   * Connect predicate surface rides in args: `when` (predicate type),
   * `whenPattern`, `whenNegate` — the `transforms.X.predicate=P` /
   * `predicates.P.type=...` config shape collapsed into the transform
   * entry. */
  def toTransform: Smt.Transform = args.get("when") match {
    case Some(p) =>
      val pred = p match {
        case "topicNameMatches" =>
          Smt.Predicates.topicNameMatches(args("whenPattern"))
        case "recordIsTombstone" => Smt.Predicates.recordIsTombstone
        case "hasHeaderKey" => Smt.Predicates.hasHeaderKey(args("whenKey"))
        case other =>
          throw new IllegalArgumentException(s"unknown predicate '$other'")
      }
      Smt.whenPredicate(pred, base,
        args.get("whenNegate").exists(_.toBoolean))
    case None => base
  }

  private def base: Smt.Transform = kind match {
    case "valueToKey" => Smt.valueToKey(fields)
    case "extractKeyField" => Smt.extractKeyField(args("field"))
    case "extractValueField" => Smt.extractValueField(args("field"))
    case "regexRouter" => Smt.regexRouter(args("pattern"), args("replacement"))
    case "timestampConverter" =>
      val target = args("target") match {
        case "Timestamp" => Smt.TsTarget.Timestamp
        case "unix" => Smt.TsTarget.Unix
        case "Date" => Smt.TsTarget.Date
        case "string" => Smt.TsTarget.Str(args("format"))
      }
      Smt.timestampConverter(args("field"), target, args.get("sourceFormat"))
    case "extractNewRecordState" =>
      Smt.extractNewRecordState(args.get("dropTombstones").exists(_.toBoolean))
    case "filter" => Smt.filterRecords(expr(args("predicate")))
    case "insertField" =>
      Smt.insertValueField(args("field"), expr(args("value")))
    case "maskField" =>
      Smt.maskField(args("field"), args.get("replacement").map(expr))
    case "renameField" => Smt.renameFields(Map(args("from") -> args("to")))
    case "excludeFields" => Smt.excludeFields(fields)
    case "includeFields" => Smt.includeFields(fields)
    case "hoistField" => Smt.hoistField(args("name"))
    case "flatten" =>
      Smt.flattenValue(args.getOrElse("delimiter", "_"))
    case "cast" =>
      Smt.castFields(Map(args("field") -> DataType.fromDDL(args("to"))))
    case "timestampRouter" =>
      Smt.timestampRouter(expr(s"value.${args("tsField")}"),
        args.getOrElse("format", "${topic}-${timestamp}"),
        args.getOrElse("tsFormat", "yyyyMMdd"))
    case "insertHeader" => Smt.insertHeader(args("name"), expr(args("value")))
    case "headerFrom" =>
      Smt.headerFrom(fields, args("headers").split(",").map(_.trim).toSeq,
        args.get("operation").contains("move"))
    case "dropHeaders" => Smt.dropHeaders(args("pattern"))
    case other => throw new IllegalArgumentException(s"unknown SMT '$other'")
  }
}

final case class SinkSpec(
    kind: String,             // table | logtable | append | jdbc | admission
    path: String,
    keys: Seq[String],
    deleteEnabled: Boolean = true,
    autoEvolve: Boolean = true,
    // jdbc sink only — the reference's connection.url / table.name /
    // dialect knobs (`connector_configs/mysql_jdbc_sink_customers.json`)
    url: Option[String] = None,
    table: Option[String] = None,
    dialect: Option[String] = None,
    // Connect's errors.retry.timeout: transient sink failures retry
    // with backoff for this many ms before the tolerance stage; 0 (the
    // Connect default) disables retry
    retryTimeoutMs: Long = 0L,
    // admission sink only — the existing-corpus table whose derived
    // artifacts bootstrap the gate's reference state on first start
    // (the ingest-gate analog of snapshotPath); `path` is the gate
    // root: state tables under path/state, verdicts under path/out,
    // the admitted-corpus product under path/ref
    seedPath: Option[String] = None,
    // admission sink AXES (L14): each key enables one leg of the gate,
    // the declarative analog of the reference's per-connector feature
    // flags. `fused` = quality head + novelty score; `benchPath` = the
    // frozen benchmark corpus for text decontamination; `containment`
    // and `semantic` their postings/embedding legs; `media` the
    // image/audio fingerprint axes, with `benchMediaPath` the frozen
    // benchmark-media corpus for media decontamination. `semPlanes` is
    // the semantic leg's LSH plane COUNT; omitted, it derives at
    // bootstrap as scaledPlaneCount(seed rows) — the production dial
    // (expected bucket ~16 docs). With all keys absent the gate is the
    // plain w12 dedup shape (L13). The axis set + dial persist beside
    // the state at bootstrap; a resume refuses a contradicting spec
    // (offset reset = fresh gate).
    fused: Boolean = false,
    containment: Boolean = false,
    semantic: Boolean = false,
    media: Boolean = false,
    benchPath: Option[String] = None,
    benchMediaPath: Option[String] = None,
    semPlanes: Option[Int] = None,
    // Connect's errors.tolerance, scoped to the admission gate (the
    // converter/JDBC DLQ surface is K11/K13): "none" (default) fails
    // the task on the first malformed record; "all" routes malformed
    // rows — undecodable wire records (VALUE_CONVERTER stage), null-key
    // / null-text / oversized documents (ADMISSION_GATE stage) — to a
    // per-batch DLQ under `<path>/dlq`, verdicts unaffected.
    errorsTolerance: String = "none",
    // the "oversized" bound for the gate DLQ: documents longer than
    // this many chars dead-letter instead of entering the verdict
    // (absent = unbounded)
    maxDocChars: Option[Int] = None)

object PipelineSpec {

  private val mapper = new ObjectMapper()

  /** Parse the JSON spec (jackson ships with Spark — no extra dep). */
  def fromJson(json: String): PipelineSpec = {
    val n = mapper.readTree(json)
    def str(node: JsonNode, f: String): Option[String] =
      Option(node.get(f)).filterNot(_.isNull).map(_.asText)
    def strs(node: JsonNode, f: String): Seq[String] =
      Option(node.get(f)).map(_.elements().asScala.map(_.asText).toSeq)
        .getOrElse(Seq.empty)
    val src = n.get("source")
    val sink = n.get("sink")
    PipelineSpec(
      name = n.get("name").asText,
      source = SourceSpec(
        kind = src.get("type").asText,
        path = str(src, "path").getOrElse(""),
        schemaDdl = str(src, "schemaDdl"),
        keyFields = strs(src, "keyFields"),
        seqColumn = str(src, "seqColumn"),
        topic = str(src, "topic").getOrElse(n.get("name").asText),
        maxFilesPerTrigger = str(src, "maxFilesPerTrigger").map(_.toInt).getOrElse(3),
        replicaIdentityFull = str(src, "replicaIdentityFull").exists(_.toBoolean),
        snapshotMode = str(src, "snapshotMode"),
        snapshotPath = str(src, "snapshotPath"),
        wireFormat = str(src, "wireFormat"),
        decodeParallelism = str(src, "decodeParallelism").map(_.toInt)),
      transforms = Option(n.get("transforms")).map(_.elements().asScala.map { t =>
        TransformSpec(
          kind = t.get("type").asText,
          args = t.properties().asScala
            .filterNot(e => e.getKey == "type" || e.getKey == "fields")
            .map(e => e.getKey -> e.getValue.asText).toMap,
          fields = strs(t, "fields"))
      }.toSeq).getOrElse(Seq.empty),
      sink = SinkSpec(
        kind = sink.get("type").asText,
        path = str(sink, "path").getOrElse(""),
        keys = strs(sink, "keys"),
        deleteEnabled = str(sink, "deleteEnabled").forall(_.toBoolean),
        autoEvolve = str(sink, "autoEvolve").forall(_.toBoolean),
        url = str(sink, "url"),
        table = str(sink, "table"),
        dialect = str(sink, "dialect"),
        retryTimeoutMs = str(sink, "retryTimeoutMs").map(_.toLong).getOrElse(0L),
        seedPath = str(sink, "seedPath"),
        fused = str(sink, "fused").exists(_.toBoolean),
        containment = str(sink, "containment").exists(_.toBoolean),
        semantic = str(sink, "semantic").exists(_.toBoolean),
        media = str(sink, "media").exists(_.toBoolean),
        benchPath = str(sink, "benchPath"),
        benchMediaPath = str(sink, "benchMediaPath"),
        semPlanes = str(sink, "semPlanes").map(_.toInt),
        errorsTolerance = str(sink, "errorsTolerance").getOrElse("none"),
        maxDocChars = str(sink, "maxDocChars").map(_.toInt)),
      triggerMs = str(n, "triggerMs").map(_.toLong))
  }
}
