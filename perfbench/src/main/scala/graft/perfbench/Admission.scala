package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.pipeline.Engine

/**
 * `admission_gate`, closed loop with one wave in flight: the full-axis
 * `{"type":"admission"}` sink (fused, containment, semantic, media,
 * benchPath, benchMediaPath; every other key at its default) registered
 * on an [[Engine]]. The next wave is published when the previous one
 * commits. The gate verdict, state appends, maintenance fold, media
 * decode and the per-plan Catalyst floor dominate; codec, SMT and
 * LogTable do no work here.
 */
object Admission {
  val Name = "gate"
  /** Seed and benchmark corpus sizes of the l14 fixture. */
  val SeedDocs = 300
  val BenchDocs = 100
  /** Documents per wave, as in the sizing runs of the full-axis gate. */
  val WaveDocs = 250
  /** The gate folds its state at the head of batch 6, when the seed and
   * batches 0-5 make more than 6 unfolded parts. The window is waves 1
   * through that wave, a fixed count: every run's tail latency holds
   * exactly one fold, and every run of a seed submits the same
   * documents, so its attempted and failed counts do not depend on
   * timing. The traced replay applies the same waves 0..FoldWave, so it
   * folds at the same batch. */
  val FoldWave = 6
  /** Waves staged per run: wave 0 (the set-up's) and the window's. */
  val MaxWaves = FoldWave + 1
  /** Warm set-ups per run (after a cold one); `setup_s` is their median.
   * Each takes about 9 s, so one keeps a run near 70 s. */
  val SetupWarm = 1
  val Lookups = 30

  final case class Rig(root: Path, seed: Path, bench: Path) {
    val in: Path = root.resolve("in")
    val gate: Path = root.resolve("gate")
    val engineRoot: Path = root.resolve("engine")
    def checkpoint: Checkpoint = new Checkpoint(engineRoot.resolve("checkpoints").resolve(Name))
  }

  def spec(r: Rig): String = {
    val q = new com.fasterxml.jackson.databind.ObjectMapper()
    def s(p: Path) = q.writeValueAsString(p.toString)
    s"""{"name":"$Name",
       |"source":{"type":"parquet","path":${s(r.in)},
       |  "schemaDdl":"doc_id BIGINT, text STRING",
       |  "keyFields":["doc_id"],"seqColumn":"doc_id","topic":"corpus"},
       |"transforms":[],
       |"sink":{"type":"admission","path":${s(r.gate)},"seedPath":${s(r.seed)},
       |  "fused":"true","containment":"true","semantic":"true","media":"true",
       |  "benchPath":${s(r.bench)},"benchMediaPath":${s(r.bench)}}}""".stripMargin
  }

  def verdicts(spark: SparkSession, gate: Path): Seq[Check.GateRow] =
    spark.read.parquet(gate.resolve("out").toString).select("doc_id", "admitted")
      .collect().toSeq.map(r => Check.GateRow(r.getLong(0), r.getBoolean(1)))

  def run(o: Opts): Result = {
    val waveDocs = if (o.tiny) 30 else WaveDocs
    val corpus = Gen.corpus(o.seed, if (o.tiny) 80 else SeedDocs,
      if (o.tiny) 20 else BenchDocs, if (o.tiny) 4 else MaxWaves, waveDocs)
    val seedDir = o.work.resolve("seed")
    val benchDir = o.work.resolve("bench")
    Stage.docTable(corpus.seed, seedDir)
    Stage.docTable(corpus.bench, benchDir)
    val staged = Stage.docFiles(corpus.waves, o.work.resolve("staged"))
    Clock.phase("staged")

    // set-up: session up + register (the seed bootstrap) + the first
    // wave's trigger, on a fresh gate root each time; the first, the
    // JVM's cold one, is not counted
    val setups = ArrayBuffer.empty[Double]
    var live: (SparkSession, Engine) = null
    var rig: Rig = null
    var tracer: Option[Tracer] = None
    for (i <- 0 to SetupWarm) {
      if (live != null) live._2.delete(Name)
      rig = Rig(o.work.resolve(s"rep$i"), seedDir, benchDir)
      Files.createDirectories(rig.in)
      Stage.publish(staged(0), rig.in, Stage.fileName(0), Clock.nowMs)
      val (spark, sessionMs) = Session.restart(o.work)
      if (o.trace && i == SetupWarm) tracer = Some(Tracer.attach(spark))
      val t = System.nanoTime()
      val engine = new Engine(spark, rig.engineRoot.toString)
      engine.registerJson(spec(rig)).processAllAvailable()
      if (i > 0) setups += sessionMs + (System.nanoTime() - t) / 1e6
      Clock.phase(s"set up $i")
      live = (spark, engine)
    }
    val (spark, engine) = live
    val query = spark.streams.active.head
    val cp = rig.checkpoint
    val gc0 = Jvm.gcMs

    // a wave is due when the window opens (the first) or when the
    // previous wave commits (its commit file's mtime); the publisher's
    // lateness is its publish time past that
    val due, late = ArrayBuffer.empty[Long]
    val t0 = Clock.nowMs
    tracer.foreach(_.windowStartMs = t0)
    var w = 1
    // publish waves 1..FoldWave (fewer at the self-test's tiny size)
    while (w < corpus.waves.size) {
      val d = if (w == 1) t0 else cp.commits(w - 1L)
      Stage.publish(staged(w), rig.in, Stage.fileName(w), d)
      late += math.max(0L, Clock.nowMs - d)
      due += d
      while (!cp.commits.keySet.contains(w.toLong)) {
        if (!query.isActive) throw query.exception.getOrElse(
          new IllegalStateException("gate query stopped"))
        Thread.sleep(5)
      }
      Jvm.sampleHeap()
      w += 1
    }
    Clock.phase("window")
    val commits = cp.commits
    val batchOf = cp.fileBatches
    val lat = due.indices.map(i => (commits(batchOf(Stage.fileName(i + 1))) - due(i)).toDouble)
    val windowMs = (commits(w - 1L) - t0).toDouble
    // one wave in flight: a wave's docs over the time since the previous
    // wave committed (the first measured wave: since the window opened)
    val rates = (1 until w).map { i =>
      waveDocs * 1000.0 / (commits(i.toLong) - (if (i == 1) t0 else commits(i - 1L)))
    }

    val keyRnd = new java.util.SplittableRandom(o.seed * 31 + 7)
    val submitted = corpus.waves.take(w).flatten
    val reads = (0 until Lookups).map { _ =>
      val ids = Seq.fill(4)(submitted(keyRnd.nextInt(submitted.size)).id)
      Clock.timed(spark.read.parquet(rig.gate.resolve("out").toString)
        .filter(col("doc_id").isin(ids: _*)).collect())._2
    }
    val rows = verdicts(spark, rig.gate)
    val v = Check.gate(submitted, rows)
    Clock.phase("checked")
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups.toSeq) / 1000.0, "s"),
      Metric("throughput_rps", Stats.median(rates), "rec/s"),
      Metric("latency_p50_ms", Stats.pct(lat, 50), "ms"),
      Metric("latency_p90_ms", Stats.pct(lat, 90), "ms"),
      Metric("read_p50_ms", Stats.median(reads), "ms"))
    val metrics = tracer match {
      case None => e2e
      case Some(tr) =>
        val pub = due.indices.map(i => Stage.fileName(i + 1) -> due(i)).toMap
        val pipe = tr.pipelineMetrics(pub, batchOf - Stage.fileName(0), windowMs)
        val gate = gateMetrics(tr, rows) ++ tr.jvmMetrics(windowMs) ++
          Jvm.metrics(gc0, windowMs) ++ Seq(
          Metric("loadgen.late_ms_p90", Stats.pct(late.toSeq.map(_.toDouble), 90), "ms"),
          Metric("check.failed_frac", v.failed.toDouble / v.attempted, "ratio"))
        engine.delete(Name)
        val replayRig = Rig(o.work.resolve("replay"), seedDir, benchDir)
        pipe ++ gate ++ Replay.admission(spark, o, spec(replayRig), replayRig.root,
          staged.take(1 + FoldWave), tr) ++ tr.overheadMetrics(e2e)
    }
    engine.delete(Name)
    Result(v.correct, v.attempted, v.failed, metrics,
      v.notes ++ Seq(s"waves=${w - 1} docs=${(w - 1) * waveDocs} admitted=${rows.count(_.admitted)} " +
        s"late_p90_ms=${Stats.pct(late.toSeq.map(_.toDouble), 90)}",
        s"latency_ms=${lat.mkString(",")}", s"setup_ms=${setups.mkString(",")}",
        s"digest=${Check.digest(rows)}"))
  }

  private val Appends = Seq("ref", "art", "sh", "cpost", "emb", "imgfp", "audfp")

  /** Gate layers from the traced run: labelled jobs per wave, plans
   * per wave and the trigger's addBatch. */
  private def gateMetrics(tr: Tracer, rows: Seq[Check.GateRow]): Seq[Metric] = {
    tr.drain()
    val waves = tr.dataTriggers
    val jobs = tr.jobs.values.toSeq
    def wall(desc: String): Seq[Double] = waves.map(t =>
      tr.spanMs(jobs.filter(_.desc == s"$desc b${t.batchId}")))
    val appendSpan = waves.map(t => tr.spanMs(jobs.filter(j =>
      j.desc.startsWith("adm:append:") && j.desc.endsWith(s" b${t.batchId}"))))
    val windows = waves.map(t => (t.startMs, t.startMs + t.d.getOrElse("triggerExecution", 0L)))
    val planSets = windows.map { case (a, b) => tr.plans.filter(p => p.startMs >= a && p.startMs <= b) }
    Seq(
      Metric("admission.apply_ms_p50", Stats.pct(waves.map(_.d.getOrElse("addBatch", 0L).toDouble), 50), "ms"),
      Metric("admission.verdict_ms_p50", Stats.pct(wall("adm:verdict"), 50), "ms"),
      Metric("admission.admart_ms_p50", Stats.pct(wall("adm:admArt"), 50), "ms"),
      Metric("admission.append_ms_p50", Stats.pct(appendSpan, 50), "ms")) ++
      Appends.map(a => Metric(s"admission.append_${a}_ms_p50", Stats.pct(wall(s"adm:append:$a"), 50), "ms")) ++
      Seq(
        Metric("admission.plans_per_wave", Stats.median(planSets.map(_.size.toDouble)), "plans"),
        Metric("admission.plan_ms_per_wave", Stats.median(planSets.map(_.map(_.planMs).sum)), "ms"),
        Metric("admission.admitted_ratio", rows.count(_.admitted).toDouble / math.max(rows.size, 1), "ratio"))
  }
}
