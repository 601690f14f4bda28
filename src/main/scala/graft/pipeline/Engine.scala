package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Connect
import graft.sinks.{LogTable, SchemaHistory}
import graft.state.StateDir

/**
 * L1-L8 — the Connect-worker analog: registers pipeline specs, runs each
 * as a Structured Streaming query, and manages lifecycle + offsets.
 *
 * | Reference (cite in SURVEY.md §2.5)          | Engine                        |
 * |---------------------------------------------|-------------------------------|
 * | POST/GET/DELETE /connectors (L1)            | register / list / delete      |
 * | pause / resume / restart / status (L2)      | pause / resume / status       |
 * | connect-offsets per connector (L3)          | checkpoint dir per pipeline   |
 * | offset reset (L4)                           | resetOffsets (checkpoint rm)  |
 * | topic partitions (L5), tasks.max (L7)       | maxFilesPerTrigger, shuffle   |
 * | single-writer per source table (L6)         | name+checkpoint uniqueness    |
 * | poll.interval.ms / batch knobs (L8)         | Trigger.ProcessingTime        |
 *
 * Recovery model is the reference's: at-least-once delivery from the
 * checkpoint, made effectively-exactly-once by idempotent sinks (a
 * re-delivered batch is a no-op).
 */
final class Engine(spark: SparkSession, root: String) extends ConnectRuntime {

  import Engine._

  private val pipelines = TrieMap.empty[String, Entry]

  private def checkpointDir(name: String) = s"$root/checkpoints/$name"

  /** L1: register + start — [[adopt]] with a RUNNING target, returning
   * the started query. Rejects duplicate names outright — paused
   * included — because a replacement spec would inherit the previous
   * pipeline's checkpoint offsets (L6 single-writer/identity rule);
   * `delete` first to re-register. */
  def register(spec: PipelineSpec): StreamingQuery = synchronized {
    adopt(spec, running = true)
    pipelines(spec.name).query.get
  }

  def registerJson(json: String): StreamingQuery =
    register(PipelineSpec.fromJson(json))

  /** Distributed-mode adoption: take ownership of a pipeline moved here
   * by a rebalance. `running = false` registers it with its PAUSED
   * target state intact and NO query started — Connect's rebalance
   * preserves target states, so a paused connector must not run a
   * single batch on its new worker. */
  def adopt(spec: PipelineSpec, running: Boolean): Unit = synchronized {
    if (pipelines.contains(spec.name))
      throw new IllegalStateException(
        s"pipeline '${spec.name}' already registered (single-writer rule; delete it first)")
    if (running) {
      val q = start(spec)
      pipelines(spec.name) = Entry(spec, Some(q), Running)
    } else pipelines(spec.name) = Entry(spec, None, Paused)
  }

  /** L2: stop the query; offsets stay in the checkpoint. */
  def pause(name: String): Unit = synchronized {
    val e = entry(name)
    e.query.filter(_.isActive).foreach(_.stop())
    pipelines(name) = e.copy(query = None, state = Paused)
  }

  /** L2: restart from the checkpoint — processing resumes after the last
   * committed offset, exactly like a Connect task restart. */
  def resume(name: String): StreamingQuery = synchronized {
    val e = entry(name)
    if (e.query.exists(_.isActive)) e.query.get
    else {
      val q = start(e.spec)
      pipelines(name) = e.copy(query = Some(q), state = Running)
      q
    }
  }

  /** L2: restart — Connect's `POST /connectors/{name}/restart`: bounce
   * the connector WITHOUT passing through PAUSED, and preserve a paused
   * target state (restarting a paused connector restarts its Connector
   * object but the tasks stay stopped — it must NOT silently resume).
   * The whole bounce holds the engine lock and swaps the registry entry
   * once, so a concurrent `status` never observes an intermediate
   * PAUSED window. */
  def restart(name: String): Unit = synchronized {
    val e = entry(name)
    e.query.filter(_.isActive).foreach(_.stop())
    e.state match {
      case Running =>
        pipelines(name) = e.copy(query = Some(start(e.spec)), state = Running)
      case _ => // paused/failed target state survives the restart
        pipelines(name) = e.copy(query = None)
    }
  }

  /** L2: status — name, state, and whether the query is active. A query
   * that died with an exception reports FAILED with the cause, like a
   * Connect task in the /status payload. */
  def status(name: String): (String, String) = {
    val e = entry(name)
    val s = e.query match {
      case Some(q) if q.isActive => "RUNNING"
      case Some(q) if q.exception.isDefined =>
        // nextOption: an empty exception message must not turn a status
        // read into a NoSuchElementException (which REST maps to 404)
        s"FAILED: ${q.exception.get.message.linesIterator.nextOption().getOrElse("")}"
      case _ => e.state match {
        case Paused => "PAUSED"
        case _ => "STOPPED"
      }
    }
    (name, s)
  }

  def list(): Seq[String] = pipelines.keys.toSeq.sorted

  def specOf(name: String): Option[PipelineSpec] = pipelines.get(name).map(_.spec)

  /** L1 DELETE: stop and forget (checkpoint retained, like Connect's
   * config removal leaving connect-offsets behind). */
  def delete(name: String): Unit = synchronized {
    pipelines.remove(name).foreach(_.query.filter(_.isActive).foreach(_.stop()))
  }

  /** Crash stand-in — the in-process analog of this worker's PROCESS
   * dying: every query stops dead (as the OS would stop it; an
   * in-flight micro-batch never commits), and NO lifecycle bookkeeping
   * runs — no Paused transition, no checkpoint mutation, no
   * deregistration. Durable state (checkpoints, sink data) is exactly
   * what a real corpse leaves behind; the group only learns of the
   * death through the liveness sweep ([[Cluster.sweepExpired]]). */
  def crash(): Unit = synchronized {
    pipelines.values.foreach(_.query.filter(_.isActive).foreach(_.stop()))
  }

  /** L4: targeted offset reset — delete the pipeline's checkpoint so the
   * next resume re-ingests from scratch (the produce-null-to-
   * connect-offsets analog). Only legal while paused. */
  def resetOffsets(name: String): Unit = synchronized {
    val e = entry(name)
    if (e.query.exists(_.isActive))
      throw new IllegalStateException(s"pause '$name' before resetting offsets")
    graft.util.Fs.deleteRecursive(Paths.get(checkpointDir(name)))
    // an admission gate's state is keyed by the checkpoint's batch ids:
    // a reset stream restarts them at 0, so the gate root resets with
    // the offsets (re-ingest from scratch — the Debezium
    // re-snapshot-after-offset-delete analog; see AdmissionSink)
    if (e.spec.sink.kind == "admission")
      AdmissionSink.resetState(e.spec.sink.path)
  }

  /** L3 read side: the pipeline's committed progress, as the latest
   * micro-batch id in its checkpoint's COMMIT log — what Connect's
   * `GET /connectors/{name}/offsets` (KIP-875) surfaces as the
   * connector's stored offsets. None until the first batch commits.
   * Structured Streaming writes `offsets/N` at batch START and marks
   * completion in `commits/N`, so only the commits dir reflects
   * committed progress — after a crash mid-batch the offsets dir is
   * one id ahead of what actually applied. */
  def latestBatchId(name: String): Option[Long] = {
    entry(name) // unknown pipeline -> NoSuchElementException (404)
    StateDir.numbered(Paths.get(checkpointDir(name), "commits"), "")
      .lastOption.map(_._1)
  }

  private def entry(name: String): Entry =
    pipelines.getOrElse(name,
      throw new NoSuchElementException(s"no pipeline '$name'"))

  // ---- query assembly ----------------------------------------------------

  /** Pre-flight validation: every registration-time check [[start]]
   * enforces, with nothing started and nothing mutated. The REST
   * config-update path runs this BEFORE deleting the running pipeline —
   * Connect rejects a bad config update and keeps the existing
   * connector running, so a spec that would fail registration must be
   * detected while the old pipeline is still alive. */
  def validate(spec: PipelineSpec): Unit = {
    val keyedSinks = KeyedSinkKinds.toSet
    // A keyed merge sink resolves intra-batch duplicate keys
    // last-write-wins by seq; the monotonically_increasing_id fallback
    // follows partition LAYOUT, not source order, so a table sink must
    // name a real ordering column (kafka carries its offset, rate its
    // monotonic `value`). Append sinks keep every row — a synthetic seq
    // is harmless there.
    if (keyedSinks(spec.sink.kind) && spec.source.seqColumn.isEmpty &&
        spec.source.kind != "kafka" && spec.source.kind != "rate")
      throw new IllegalArgumentException(
        s"table sink requires source.seqColumn (the offset analog) for " +
          s"source '${spec.source.kind}': without one, merge order for " +
          "duplicate keys within a batch depends on partition layout")
    // S8 — the PostgreSQL rule for key-less sources (`실습수행/Debezium
    // PostgreSQL CDC Source Connector 실습.md:339-353`): a published
    // table with no PK cannot emit deletes until REPLICA IDENTITY FULL;
    // mirror that refusal at registration instead of failing downstream
    // with an unaddressable tombstone.
    if (keyedSinks(spec.sink.kind) && spec.sink.deleteEnabled &&
        spec.source.keyFields.isEmpty && !spec.source.replicaIdentityFull)
      throw new IllegalArgumentException(
        "cannot capture deletes from a key-less source: the database " +
          "rejects DELETE on a published table with no replica identity " +
          "(ALTER TABLE ... REPLICA IDENTITY FULL) — set source." +
          "replicaIdentityFull to key tombstones by the full row image, " +
          "or disable sink deletes")
    // a keyed sink with NO key columns would generate malformed SQL
    // ("ON CONFLICT () DO ..."), or collapse the table to one row via
    // an empty-struct merge key — reject at registration
    if (keyedSinks(spec.sink.kind) && spec.sink.keys.isEmpty)
      throw new IllegalArgumentException(
        s"${spec.sink.kind} sink requires non-empty sink.keys (the merge key)")
    if (!SourceKinds.contains(spec.source.kind))
      throw new IllegalArgumentException(
        s"unknown source '${spec.source.kind}'")
    if (spec.source.kind == "kafka" && spec.source.schema.isEmpty)
      throw new IllegalArgumentException(
        "kafka source requires schemaDdl to decode the message value")
    // the wire-format converter (r18): staged files in the Kafka dump
    // shape whose value column carries the C1 JSON envelope
    spec.source.wireFormat.foreach { wf =>
      if (wf != "json_envelope")
        throw new IllegalArgumentException(s"unknown wireFormat '$wf'")
      if (spec.source.kind != "parquet")
        throw new IllegalArgumentException(
          "wireFormat applies to parquet file sources (the kafka source " +
            "always decodes; CSV carries no wire column)")
      if (spec.source.schema.isEmpty)
        throw new IllegalArgumentException(
          "wireFormat requires schemaDdl (the record schema the value " +
            "column decodes with)")
    }
    // r19: the decode-parallelism dial spreads the wire converter's
    // per-record parse — it is meaningless without a wire decode, and a
    // plain file/rate source must never gain a silent repartition
    spec.source.decodeParallelism.foreach { n =>
      if (n <= 0)
        throw new IllegalArgumentException("decodeParallelism must be positive")
      if (spec.source.wireFormat.isEmpty && spec.source.kind != "kafka")
        throw new IllegalArgumentException(
          "decodeParallelism spreads the wire-record converter decode; " +
            "it requires wireFormat (or a kafka source)")
    }
    if (!Set("none", "all")(spec.sink.errorsTolerance))
      throw new IllegalArgumentException(
        s"unknown errors tolerance '${spec.sink.errorsTolerance}'")
    if (spec.sink.errorsTolerance == "all" && spec.sink.kind != "admission")
      throw new IllegalArgumentException(
        "errorsTolerance=all is the admission gate's DLQ (the converter/" +
          "JDBC DLQ surface for table flows is the K11/K13 path)")
    if (spec.sink.maxDocChars.exists(_ <= 0))
      throw new IllegalArgumentException("maxDocChars must be positive")
    if (spec.sink.maxDocChars.nonEmpty && spec.sink.kind != "admission")
      throw new IllegalArgumentException(
        "maxDocChars is an admission sink key")
    // the kafka/wire frame lifts its key from the decoded value; with
    // no keyFields every record would share the empty-struct key and a
    // keyed sink silently collapses to one row
    if ((spec.source.kind == "kafka" || spec.source.wireFormat.nonEmpty) &&
        spec.source.keyFields.isEmpty && keyedSinks(spec.sink.kind))
      throw new IllegalArgumentException(
        "kafka source feeding a keyed sink requires source.keyFields")
    if (!SinkKinds.contains(spec.sink.kind))
      throw new IllegalArgumentException(s"unknown sink '${spec.sink.kind}'")
    // L13 — the ingest-gate sink: needs the seed corpus to bootstrap
    // its reference state, and a gate root to own
    if (spec.sink.kind == "admission") {
      if (spec.sink.seedPath.isEmpty)
        throw new IllegalArgumentException(
          "admission sink requires 'seedPath' (the existing corpus whose " +
            "artifacts bootstrap the gate's reference state)")
      if (spec.sink.path.isEmpty)
        throw new IllegalArgumentException(
          "admission sink requires 'path' (the gate root)")
      if (spec.source.kind == "rate")
        throw new IllegalArgumentException(
          "admission sink consumes (doc_id, text) documents — a rate " +
            "source carries neither")
      if (spec.sink.benchMediaPath.nonEmpty && !spec.sink.media)
        throw new IllegalArgumentException(
          "benchMediaPath requires media=true (media decontamination " +
            "is part of the media axis)")
      if (spec.sink.semPlanes.exists(_ <= 0))
        throw new IllegalArgumentException("semPlanes must be positive")
      if (spec.sink.semPlanes.nonEmpty && !spec.sink.semantic)
        throw new IllegalArgumentException(
          "semPlanes is the semantic leg's dial — it requires semantic=true")
    }
    if (spec.sink.kind == "jdbc") {
      if (spec.sink.url.isEmpty)
        throw new IllegalArgumentException("jdbc sink requires 'url'")
      if (!Set("mysql", "postgres", "derby")(spec.sink.dialect.getOrElse("derby")))
        throw new IllegalArgumentException(
          s"unknown dialect '${spec.sink.dialect.get}'")
    }
    spec.source.snapshotMode.foreach { m =>
      if (!Set("initial", "schema_only")(m))
        throw new IllegalArgumentException(s"unknown snapshot mode '$m'")
      if (m == "initial") {
        if (spec.source.snapshotPath.isEmpty)
          throw new IllegalArgumentException(
            "snapshotMode=initial requires source.snapshotPath (the " +
              "current-state table to backfill)")
        // the snapshot applies outside the stream's batch-id sequence,
        // made replay-safe by keyed-merge idempotence; table and logtable
        // are one sink, so this rule only keeps the declared surface
        if (!Set("table", "jdbc")(spec.sink.kind))
          throw new IllegalArgumentException(
            s"snapshotMode=initial requires an idempotent keyed merge " +
              s"sink (table/jdbc), not '${spec.sink.kind}'")
      }
    }
  }

  /** The jdbc sink's per-batch config (shared by the streaming writer
   * and the snapshot backfill). */
  private def jdbcCfg(spec: PipelineSpec): graft.sinks.JdbcSink.Config = {
    val sink = spec.sink
    graft.sinks.JdbcSink.Config(
      url = sink.url.getOrElse(throw new IllegalArgumentException(
        "jdbc sink requires 'url'")),
      table = sink.table.getOrElse(spec.name),
      dialect = sink.dialect.getOrElse("derby") match {
        case "mysql" => graft.sinks.JdbcSink.MySql
        case "postgres" => graft.sinks.JdbcSink.Postgres
        case "derby" => graft.sinks.JdbcSink.Derby
        case d => throw new IllegalArgumentException(s"unknown dialect '$d'")
      },
      pks = sink.keys,
      deleteEnabled = sink.deleteEnabled,
      autoEvolve = sink.autoEvolve,
      retryTimeoutMs = sink.retryTimeoutMs)
  }

  /** S7 lifecycle, phase 1: on the FIRST start only, backfill the
   * current state of the snapshot table through the same frame →
   * transforms → sink path the stream uses, then drop a marker in the
   * checkpoint dir. The marker lives WITH the offsets on purpose:
   * a restart sees it and skips straight to the streaming phase, while
   * an offset reset wipes it and the next start re-snapshots —
   * Debezium's exact behavior when connect-offsets are deleted. The
   * marker is written AFTER the sink apply, so a crash between them
   * re-runs the snapshot (at-least-once), which the keyed sink absorbs
   * idempotently (the re-run version re-writes the same rows). */
  private def snapshotIfFirstStart(spec: PipelineSpec): Unit = {
    if (!spec.source.snapshotMode.contains("initial")) return
    val marker = Paths.get(checkpointDir(spec.name), "graft_snapshot_done")
    if (Files.exists(marker)) return
    val snap = spark.read.parquet(spec.source.snapshotPath.get)
    // the snapshot is a plain current-state table, NOT a kafka frame —
    // lift it through the row branch of toFrame regardless of the
    // stream's transport (a kafka-sourced connector's snapshot has no
    // key/value/topic/offset columns to decode)
    val framed = toFrame(snap,
      if (spec.source.kind == "kafka") spec.source.copy(kind = "parquet")
      else spec.source)
    val transformed = sinkFrame(spec, framed)
    spec.sink.kind match {
      case "table" => KeyedFileSink.applyBatch(spark, spec.sink, transformed, None)
      case "jdbc" => graft.sinks.JdbcSink.applyChangelog(transformed, jdbcCfg(spec))
      case other => // unreachable past validate()
        throw new IllegalArgumentException(s"snapshot unsupported for '$other'")
    }
    Files.createDirectories(marker.getParent)
    Files.writeString(marker, s"""{"snapshot":"initial","completed":true}""")
  }

  /** The frame the Engine hands its sink: the spec's transform chain
   * over the connect frame, minus the wire key the chain may read. */
  private def sinkFrame(spec: PipelineSpec, framed: DataFrame): DataFrame =
    spec.transforms.map(_.toTransform).foldLeft(framed)((df, t) => t(df))
      .drop(Connect.WireKeyCol)

  /** Added to every micro-batch id of a keyed file sink, so a reset
   * checkpoint (ids restart at 0) never re-delivers a committed id. A
   * checkpoint with no `offsets/` entries records the log's committed
   * max + 1 beside `graft_snapshot_done`; a restart or crash replay reads
   * it back (a replay stays a no-op). Offsets without a marker: 0. */
  private def batchBase(spec: PipelineSpec): Long = {
    val ckpt = Paths.get(checkpointDir(spec.name))
    val marker = ckpt.resolve("graft_batch_base")
    if (StateDir.numbered(ckpt.resolve("offsets"), "").isEmpty) {
      val base = LogTable.maxCommittedBatchId(spec.sink.path).fold(0L)(_ + 1)
      Files.createDirectories(ckpt)
      StateDir.publish(ckpt.resolve(".graft_batch_base.tmp"), marker)(
        Files.writeString(_, base.toString))
      base
    } else if (Files.exists(marker)) Files.readString(marker).trim.toLong
    else 0L
  }

  private def start(spec: PipelineSpec): StreamingQuery = {
    validate(spec)
    snapshotIfFirstStart(spec)
    val src = readSource(spec.source)
    val framed = toFrame(src, spec.source,
      tolerant = spec.sink.errorsTolerance == "all")
    val transformed = sinkFrame(spec, framed)
    val sink = spec.sink
    def writer(mode: String) = {
      val w = transformed.writeStream
        .option("checkpointLocation", checkpointDir(spec.name))
        .outputMode(mode)
      // L8 cadence (poll.interval.ms analog) applies to EVERY sink kind
      spec.triggerMs.map(ms => w.trigger(Trigger.ProcessingTime(ms))).getOrElse(w)
    }
    sink.kind match {
      case "table" | "logtable" =>
        // one keyed file sink for both names; the batch id makes the
        // append idempotent, so a batch re-delivered after a crash
        // between sink and checkpoint commit is not held twice
        val base = batchBase(spec)
        writer("update").foreachBatch { (batch: DataFrame, batchId: Long) =>
          KeyedFileSink.applyBatch(spark, sink, batch, Some(base + batchId))
        }.start()
      case "jdbc" =>
        // the live database sink: per-batch statement execution through
        // JdbcSink (auto-create/evolve DDL, dialect-native upserts,
        // tombstone DELETEs) — the reference's JDBC sink connector shape
        val cfg = jdbcCfg(spec)
        writer("update").foreachBatch { (batch: DataFrame, _: Long) =>
          graft.sinks.JdbcSink.applyChangelog(batch, cfg)
        }.start()
      case "append" =>
        // topic routing (T3 RegexRouter) lands here: one directory
        // partition per topic — the file-sink analog of per-topic Kafka
        // destinations, and partition pruning makes per-topic reads free
        writer("append")
          .option("path", sink.path)
          .partitionBy(graft.model.Connect.TopicCol)
          .format("parquet").start()
      case "admission" =>
        // L13/L14 — the ingest gate as a lifecycle-managed sink:
        // bootstrap the seed's reference state once (idempotent; a
        // resume instead rebuilds the live dials from persisted state),
        // claim the fenced admission-writer role (resume supersedes the
        // previous incarnation's epoch), bind the pipeline's checkpoint
        // identity to the state dir, then run the spec-declared axis
        // set's verdict per batch — the library's only caller of
        // AdmissionGateCore.applyBatch, serving every admission gate
        val core = AdmissionSink.openGate(spark, sink)
        val epoch = StateDir.acquireWriter(s"${sink.path}/state")
        StateDir.bindCheckpoint(s"${sink.path}/state", checkpointDir(spec.name))
        val tolerant = sink.errorsTolerance == "all"
        writer("update").foreachBatch { (batch: DataFrame, id: Long) =>
          if (tolerant) {
            // pin the decoded frame: the DLQ split and the verdict
            // input both read it, and without the persist each side
            // would re-run the converter decode over the whole batch
            // (per-record JSON parse — the dominant per-row cost of a
            // wire-source batch)
            batch.persist()
            try {
              // r18: the DLQ write and the gate verdict touch disjoint
              // per-batch overwrite dirs and neither reads the other's
              // output — overlap them (guide §2.6; on the global pool,
              // not the gate's write pool, so the verdict's own
              // concurrent appends can't starve it). Awaited in finally
              // so a verdict failure still surfaces a DLQ failure and
              // never unpersists the frame under a live write.
              import scala.concurrent.{Await, Future}
              import scala.concurrent.ExecutionContext.Implicits.global
              import scala.concurrent.duration.Duration
              val (writeDlq, clean) =
                AdmissionSink.splitGateDlq(batch, sink, id)
              val dlqF = Future(writeDlq())
              try core.applyBatch(batch.sparkSession, epoch, clean, id)
              finally Await.result(dlqF, Duration.Inf)
            } finally batch.unpersist()
          } else core.applyBatch(batch.sparkSession, epoch,
            AdmissionSink.documentsOf(batch), id)
        }.start()
      case other =>
        throw new IllegalArgumentException(s"unknown sink '$other'")
    }
  }

  private def readSource(s: SourceSpec): DataFrame = s.kind match {
    case "csv" =>
      graft.sources.SpoolDir.readStream(spark, graft.sources.SpoolDir.Config(
        inputPath = s.path, schema = s.schema,
        maxFilesPerTrigger = s.maxFilesPerTrigger))
    case "parquet" =>
      val r = spark.readStream
        .option("maxFilesPerTrigger", s.maxFilesPerTrigger)
      // a wireFormat source's FILES carry the Kafka dump shape; the
      // declared schemaDdl is the RECORD schema the converter decodes
      // the value column with (toFrame), not the file schema
      val fileSchema =
        if (s.wireFormat.nonEmpty) Some(
          org.apache.spark.sql.types.DataType
            .fromDDL("key STRING, value STRING, topic STRING, offset BIGINT")
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        else s.schema
      fileSchema.map(r.schema).getOrElse(r).format("parquet").load(s.path)
    case "rate" =>
      spark.readStream.format("rate").option("rowsPerSecond", 10).load()
    case "kafka" =>
      // The standard Structured Streaming Kafka source — `path` carries
      // the bootstrap servers, `topic` the subscription. This container
      // ships no kafka connector jars (verified: /opt/spark/jars has no
      // spark-sql-kafka artifact), so the lookup below fails; surface
      // THAT as an actionable error instead of "unknown source". With
      // the spark-sql-kafka-0-10 jars on the classpath the same spec
      // runs unchanged — the wiring needs no code edits.
      try
        spark.readStream.format("kafka")
          .option("kafka.bootstrap.servers", s.path)
          .option("subscribe", s.topic)
          .option("startingOffsets", "earliest")
          .load()
      catch {
        // ONLY the missing-data-source condition gets relabeled; with
        // the jars present, real errors (bad options, auth) must
        // surface as themselves
        case e: Exception if isMissingDataSource(e) =>
          throw new IllegalStateException(
            "kafka source declared but the Kafka connector jars are " +
              "unavailable in this environment; add the " +
              "spark-sql-kafka-0-10 package to the classpath — the spec " +
              "itself needs no changes", e)
      }
    case other => throw new IllegalArgumentException(s"unknown source '$other'")
  }

  private def isMissingDataSource(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists(t =>
      t.isInstanceOf[ClassNotFoundException] ||
        Option(t.getMessage).exists(m =>
          m.contains("DATA_SOURCE_NOT_FOUND") || m.contains("Failed to find")))

  /** Lift raw rows into the connect-frame convention. A `__deleted`
   * column (Debezium's soft-delete marker) turns rows into tombstones.
   *
   * A kafka source is already connect-shaped: the JSON value decodes
   * with the declared schema, key fields lift from it, and the Kafka
   * offset is the seq (exactly the Connect record's ordering). A
   * `wireFormat` FILE source (r18) takes the same branch — its staged
   * files carry the Kafka dump shape (`key`/`value`/`topic`/`offset`)
   * — but decodes the value CLASSIFIED
   * ([[graft.codec.JsonEnvelope.decodeClassified]]): with `tolerant`
   * (the sink declared errors.tolerance=all) an undecodable record
   * becomes a null-value row whose `headers` carry the error class /
   * stage / raw message for the DLQ router downstream; without it the
   * first bad record fails the task (the Connect default), via a
   * plan-level raise_error so clean streams pay nothing. */
  private[graft] def toFrame(df: DataFrame, s: SourceSpec,
                             tolerant: Boolean = false): DataFrame = {
    if (s.kind == "kafka" || s.wireFormat.nonEmpty) {
      // r19 (guide §2.1/§4.5): a staged topic dump arrives as few
      // single-row-group files, so without this exchange the whole
      // batch's envelope parse runs as ONE task. The repartition moves
      // only the raw undecoded strings; everything below (decode, key
      // lift) then runs decodeParallelism-wide. Declared per spec,
      // never implicit.
      val in = s.decodeParallelism.filter(_ > 1)
        .map(df.repartition(_)).getOrElse(df)
      val sc = s.schema.getOrElse(throw new IllegalArgumentException(
        "kafka source requires schemaDdl to decode the message value"))
      // keySchema in keyFields ORDER — it must be the same struct type
      // the live-record branch builds, or when/otherwise fails to plan
      val keySchema = org.apache.spark.sql.types.StructType(
        s.keyFields.map(f => sc(f)))
      // A tombstone's key CANNOT come from the (null) value — decode the
      // Kafka key itself. Live records still lift the key from the
      // decoded value (authoritative post-SMT). The raw key rides along
      // as WireKeyCol for the key-shaping SMTs (Smt.valueToKey).
      val rawKey = col("key").cast("string")
      val rawVal = col("value").cast("string")
      // kafka keeps the envelope-SNIFFING decode (bare JSON values are
      // legal on a topic); an explicit wireFormat declares the schema'd
      // envelope, so decode failures are CLASSIFIABLE rather than
      // silently null (which a keyed sink would read as a tombstone)
      val (decoded, errClass) =
        if (s.wireFormat.contains("json_envelope")) {
          val cls = graft.codec.JsonEnvelope.decodeClassified(rawVal, sc)
          (cls.getField("value"), cls.getField("error_class"))
        } else
          (graft.codec.JsonEnvelope.decode(rawVal, sc),
            lit(null).cast("string"))
      val valueCol =
        if (tolerant) decoded
        else when(errClass.isNotNull,
            raise_error(concat(lit("wire record failed to decode ("),
              errClass, lit("): "), coalesce(rawVal, lit("null"))))
              .cast(sc))
          .otherwise(decoded)
      val headerCols =
        if (!tolerant) Nil
        else Seq(when(errClass.isNotNull,
            map(lit("__error_class"), errClass,
              lit("__error_stage"), lit("VALUE_CONVERTER"),
              lit("__raw"), rawVal))
          .as("headers"))
      return in
        .withColumn("_v", valueCol)
        .select(Seq(
          when(col("_v").isNotNull,
            struct(s.keyFields.map(f => col(s"_v.$f")).toIndexedSeq: _*))
            .otherwise(graft.codec.JsonEnvelope.decodeKey(rawKey, keySchema))
            .as(Connect.KeyCol),
          col("_v").as(Connect.ValueCol), // null kafka value stays a tombstone
          col("topic").as(Connect.TopicCol),
          col("offset").cast("long").as(Connect.SeqCol),
          rawKey.as(Connect.WireKeyCol)) ++ headerCols: _*)
    }
    val seqCol = s.seqColumn.map(col).getOrElse {
      // rate's own monotonic `value` IS an arrival order — the layout-
      // dependent fallback id is only for append sinks (the start()
      // guard refuses it for keyed merges)
      if (s.kind == "rate") col("value") else monotonically_increasing_id()
    }
    val dataCols = df.columns.filterNot(_ == "__deleted")
    val value = struct(dataCols.map(col).toIndexedSeq: _*)
    val tomb = if (df.columns.contains("__deleted"))
      col("__deleted").cast("boolean") else lit(false)
    // key-less source under REPLICA IDENTITY FULL: the key IS the full
    // row image (exactly Debezium's delete-event key for such tables) —
    // minus the seq/offset column, which is transport metadata, not row
    // data (a tombstone arrives at a LATER offset than the row it kills)
    val keyFields =
      if (s.keyFields.nonEmpty) s.keyFields
      else dataCols.toSeq.filterNot(c => s.seqColumn.contains(c))
    df.select(
      struct(keyFields.map(col).toIndexedSeq: _*).as(Connect.KeyCol),
      when(!coalesce(tomb, lit(false)), value).as(Connect.ValueCol),
      lit(s.topic).as(Connect.TopicCol),
      seqCol.cast("long").as(Connect.SeqCol))
  }
}

object Engine {
  /** The source kinds [[Engine.readSource]] dispatches on. */
  val SourceKinds: Seq[String] = Seq("csv", "parquet", "rate", "kafka")
  /** The sink kinds that merge by key (sink.keys, seqColumn rules). */
  val KeyedSinkKinds: Seq[String] = Seq("table", "logtable", "jdbc")
  /** Every sink kind the Engine dispatches on. */
  val SinkKinds: Seq[String] = KeyedSinkKinds ++ Seq("append", "admission")

  private sealed trait State
  private case object Running extends State
  private case object Paused extends State

  private final case class Entry(spec: PipelineSpec,
                                 query: Option[StreamingQuery],
                                 state: State)
}

/**
 * The keyed file sink (K1-K4) behind `"table"` and `"logtable"`, for the
 * stream, the snapshot backfill and [[PollingPipeline]]: drop tombstones
 * unless deletes are enabled, record the schema history, append one
 * [[graft.sinks.LogTable]] version, compact at 8 versions.
 */
object KeyedFileSink {

  def applyBatch(spark: SparkSession, sink: SinkSpec, batch: DataFrame,
                 batchId: Option[Long]): Unit = {
    val kept =
      if (sink.deleteEnabled) batch
      else batch.filter(col(Connect.ValueCol).isNotNull)
    SchemaHistory.record(sink.path, Paths.get(sink.path).getFileName.toString,
      sink.keys, kept.schema(Connect.ValueCol).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    LogTable.applyBatch(sink.path, kept, sink.keys, batchId)
    if (LogTable.versions(sink.path).size >= 8)
      LogTable.compact(spark, sink.path, sink.keys)
  }
}
