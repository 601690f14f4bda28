package graft.pipeline

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.Similarity

/**
 * L13/L14 — the INGEST GATE as a Connect-lifecycle sink: the reference's
 * whole UX is declarative configs over REST (L1/L9), and this sink is
 * the ONE lifecycle every admission gate runs under (the w- and
 * m-gates register it on an in-process [[Engine]]; l13–l16 go through
 * REST). A `{"type": "admission"}` sink makes an admission pipeline a
 * first-class [[PipelineSpec]]:
 * registrable via [[ConnectServer]], pausable, resumable from the
 * checkpoint, deletable — with the lifecycle verbs mapping onto the
 * fenced [[graft.text.AdmissionState]] contract, whose lease and bind
 * are the [[graft.state.StateDir]] substrate's:
 *
 *  - **register / resume** acquire the admission-writer epoch
 *    ([[graft.state.StateDir.acquireWriter]]) — a paused-then-
 *    resumed pipeline supersedes its previous incarnation, so a zombie
 *    query (e.g. a stop that raced a trigger) refuses its next state
 *    append deterministically instead of interleaving;
 *  - **the checkpoint identity binds to the state dir**
 *    ([[graft.state.StateDir.bindCheckpoint]]) — pointing a
 *    different pipeline name (= different checkpoint) at the same gate
 *    root refuses at entry, because fresh batch ids would overwrite
 *    committed `b<id>` state;
 *  - **offset reset** (L4) wipes the gate root with the checkpoint:
 *    batch ids restart at 0, so keeping admission state would corrupt
 *    (its `b<id>` dirs would collide with the restarted stream) —
 *    re-ingesting from scratch is exactly Debezium's
 *    re-snapshot-after-offset-delete semantics, applied to the gate.
 *
 * Every admission AXIS is a sink config key (r17 — the reference
 * toggles every behavior per connector by config key:
 * pk.mode/delete.enabled/auto.evolve in `실습수행/JDBC Sink Connector
 * 실습.md:331-363`, per-connector feature flags across the
 * `connector_configs` JSON files):
 * `fused` adds the quality + novelty legs, `benchPath` the frozen
 * benchmark decontamination leg, `containment`/`semantic` their
 * postings/embedding legs, `media`+`benchMediaPath` the fingerprint
 * axes; every leg composes with or without `fused`. The per-trigger
 * body, state layout and maintenance fold are [[AdmissionGateCore]],
 * so gates drained in process and REST-registered gates hash-match
 * on identical waves. With every key absent
 * the gate is the plain w12 dedup shape (k=3 shingles, 16 perms, 4
 * bands). The semantic dial (`semPlanes`, a plane COUNT) is part of
 * the declarative config — OMITTED, it derives as
 * `scaledPlaneCount(seed rows)` at bootstrap (r18: a production spec
 * with every key defaulted gets the corpus-scaled dial, the way the
 * reference's connector configs work with every key defaulted); the
 * frozen center derives from the seed at bootstrap and persists beside
 * the state, and a RESUMED gate rebuilds the live dials from state
 * alone ([[AdmissionGateCore.resumeDials]]). The
 * whole axis set + dial persist as `state/.axes`, published with the
 * bootstrap, and a resume REFUSES a spec that contradicts them (r18 —
 * see [[openGate]]).
 */
object AdmissionSink {

  /** The axis CONFIG persisted in the gate state (dot-prefixed —
   * invisible to [[graft.text.AdmissionState.parts]]; staged with the
   * bootstrap's tables, so its presence means the bootstrap published).
   * Everything the bootstrap
   * FROZE INTO the state layout: which sub-tables exist (the axis
   * flags), which corpora the frozen benchmark tables derive from (the
   * paths), and the semantic plane dial the bucketing started at. A
   * resume whose spec differs on ANY of these would silently corrupt:
   * e.g. a reduced axis set makes the next maintenance fold retire the
   * `b<id>` dirs while dropping the disabled axes' sub-tables (`emb`/
   * `cpost`) from the fold — permanently, so re-enabling the axis later
   * crashes on the fold dir missing them. */
  private final case class Axes(
      seedPath: String, fused: Boolean, containment: Boolean,
      semantic: Boolean, media: Boolean, benchPath: String,
      benchMediaPath: String, semPlanes: Int)

  private def axesOf(sink: SinkSpec, semPlanes: Int): Axes = Axes(
    seedPath = sink.seedPath.getOrElse(""),
    fused = sink.fused, containment = sink.containment,
    semantic = sink.semantic, media = sink.media,
    benchPath = sink.benchPath.getOrElse(""),
    benchMediaPath = sink.benchMediaPath.getOrElse(""),
    semPlanes = semPlanes)

  private def axesFile(sink: SinkSpec) =
    Paths.get(sink.path, "state", ".axes")

  private def axesJson(a: Axes): String = {
    val q = new com.fasterxml.jackson.databind.ObjectMapper()
    def s(v: String) = q.writeValueAsString(v)
    s"""{"seedPath":${s(a.seedPath)},"fused":${a.fused},""" +
      s""""containment":${a.containment},"semantic":${a.semantic},""" +
      s""""media":${a.media},"benchPath":${s(a.benchPath)},""" +
      s""""benchMediaPath":${s(a.benchMediaPath)},""" +
      s""""semPlanes":${a.semPlanes}}"""
  }

  private def readAxes(sink: SinkSpec): Option[Axes] =
    if (!java.nio.file.Files.exists(axesFile(sink))) None
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val n = m.readTree(java.nio.file.Files.readString(axesFile(sink)))
      Some(Axes(
        n.get("seedPath").asText, n.get("fused").asBoolean,
        n.get("containment").asBoolean, n.get("semantic").asBoolean,
        n.get("media").asBoolean, n.get("benchPath").asText,
        n.get("benchMediaPath").asText, n.get("semPlanes").asInt))
    }

  /** The gate core a sink spec declares at an EXPLICIT plane dial. Dim
   * is the engine-wide hashed-embedding width. */
  private def coreAt(sink: SinkSpec, semPlanes: Int)
      : AdmissionGateCore =
    new AdmissionGateCore(
      sink.path,
      fused = sink.fused,
      hasBench = sink.benchPath.nonEmpty,
      containment = sink.containment,
      semantic = sink.semantic,
      media = sink.media,
      hasBenchMedia = sink.benchMediaPath.nonEmpty,
      semPlanes0 = Similarity.hyperplanes(semPlanes, AdmissionGate.Dim))

  /** ENGINE ENTRY — bootstrap-or-resume with the axis-config contract:
   *
   *  - **fresh root**: resolve the semantic plane dial (the spec's
   *    `semPlanes` key, else `scaledPlaneCount(seed rows)` — the same
   *    production dial the d14b/w17 operators use, so a spec with every
   *    key defaulted gets the corpus-scaled dial, not a toy one), then
   *    bootstrap: the state and its axis config publish as ONE
   *    `state/` rename, so a crash mid-bootstrap leaves no `state/`
   *    and the next start bootstraps afresh;
   *  - **published root** (`state/.axes` exists): REFUSE a spec whose
   *    axes differ from the persisted set — the state layout froze
   *    them at bootstrap (see [[Axes]]) — unless the operator offset-resets (which wipes the
   *    gate root and re-bootstraps fresh). A spec omitting `semPlanes`
   *    resumes at the persisted dial; an explicit key must match it.
   *    Benchmark corpora freeze the same way — re-registering with a
   *    new `benchPath` requires an offset reset by design, and the
   *    persisted paths now ENFORCE that instead of documenting it.
   */
  def openGate(spark: SparkSession,
               sink: SinkSpec): AdmissionGateCore = {
    def docs(p: String): DataFrame =
      spark.read.parquet(p).select("doc_id", "text")
    readAxes(sink) match {
      case Some(persisted) =>
        val spec = axesOf(sink,
          sink.semPlanes.getOrElse(persisted.semPlanes))
        if (spec != persisted)
          throw new IllegalStateException(
            s"admission gate '${sink.path}' was set up with axis " +
              s"config $persisted but the spec declares $spec — the " +
              "state layout froze the axis set at bootstrap; to change " +
              "axes, benchmark corpora or the semantic dial, reset the " +
              "connector's offsets (wipes the gate and re-bootstraps)")
        val core = coreAt(sink, persisted.semPlanes)
        core.resumeDials(spark)
        core
      case None =>
        val planes = sink.semPlanes.getOrElse(
          if (sink.semantic)
            AdmissionGate.scaledPlaneCount(
              spark.read.parquet(sink.seedPath.get).count())
          else 8)
        val core = coreAt(sink, planes)
        core.bootstrap(spark, docs(sink.seedPath.get),
          sink.benchPath.map(docs), sink.benchMediaPath.map(docs),
          axesJson(axesOf(sink, planes)))
        core
    }
  }

  /** L4 for the gate: the offset reset deletes the WHOLE gate root
   * alongside the checkpoint — a reset stream restarts batch ids at 0,
   * which would collide with committed `b<id>` state dirs, so state,
   * verdicts and the admitted-corpus product go with the offsets (the
   * ingest-gate analog of Debezium re-snapshotting after its offsets
   * are deleted). The checkpoint-identity marker lives under the state
   * dir and dies with it; the next start bootstraps and binds fresh.
   * Only called while the pipeline is paused (the engine enforces
   * that). */
  def resetState(root: String): Unit =
    graft.util.Fs.deleteRecursive(Paths.get(root))

  /** The connect-frame → document unwrap: admission consumes
   * (doc_id, text) rows; tombstones (null value) carry no document. */
  def documentsOf(framed: DataFrame): DataFrame =
    framed.filter(col(graft.model.Connect.ValueCol).isNotNull)
      .select(
        col(s"${graft.model.Connect.ValueCol}.doc_id").cast("long")
          .as("doc_id"),
        col(s"${graft.model.Connect.ValueCol}.text").cast("string")
          .as("text"))

  /** `errors.tolerance=all` for the gate (r18): split the framed batch
   * into clean documents and the DLQ, mirroring what K11/K13 give the
   * converter/JDBC path — a malformed record inside an admission batch
   * dead-letters with (stage, reason) instead of failing the trigger:
   *
   *  - **VALUE_CONVERTER** stage: an undecodable wire record (the
   *    error class / raw message ride in the frame headers the
   *    tolerant [[Engine.toFrame]] attached);
   *  - **ADMISSION_GATE** stage: a decoded document the gate cannot
   *    admit or judge — null `doc_id` (`null_key`), null `text`
   *    (`null_text`), or text beyond the spec's `maxDocChars`
   *    (`oversized`).
   *
   * The DLQ lands in a per-batch overwrite dir (`dlq/batch=<id>` —
   * the gate's idempotent-replay discipline), tombstones still drop
   * silently (they are DATA, not errors), and clean documents flow to
   * the verdict unchanged. Returned as (DLQ-write thunk, clean
   * documents) so the engine can OVERLAP the DLQ write with the gate
   * verdict (r18, guide §2.6) — the two touch disjoint per-batch
   * overwrite dirs and neither reads the other's output, so running
   * them concurrently leaves the replay/crash semantics exactly as
   * sequential. Both read the framed batch, which the caller pins. */
  def splitGateDlq(framed: DataFrame, sink: SinkSpec,
                   id: Long): (() => Unit, DataFrame) = {
    val v = col(graft.model.Connect.ValueCol)
    def h(k: String): Column =
      if (framed.columns.contains("headers"))
        element_at(col("headers"), k)
      else lit(null).cast("string")
    val convErr = h("__error_class").isNotNull
    val docId = v.getField("doc_id").cast("long")
    val text = v.getField("text").cast("string")
    val gateReason = when(docId.isNull, "null_key")
      .when(text.isNull, "null_text")
      .when(sink.maxDocChars.map(m => length(text) > m)
        .getOrElse(lit(false)), "oversized")
    val isDlq = convErr || (v.isNotNull && gateReason.isNotNull)
    val writeDlq = () =>
      framed.filter(isDlq)
        .select(
          when(!convErr, docId).as("doc_id"),
          when(convErr, h("__error_stage"))
            .otherwise(lit("ADMISSION_GATE")).as("stage"),
          when(convErr, h("__error_class")).otherwise(gateReason)
            .as("reason"),
          col(graft.model.Connect.SeqCol).as("seq"),
          h("__raw").as("raw"))
        .write.mode("overwrite").parquet(s"${sink.path}/dlq/batch=$id")
    (writeDlq, documentsOf(framed.filter(!isDlq)))
  }
}
