package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.Engine
import graft.sinks.LogTable

/**
 * The two CDC workloads: one change log shape, one pipeline spec
 * (`wireFormat=json_envelope` → extractNewRecordState → valueToKey →
 * regexRouter → timestampConverter → logtable), two arrival patterns.
 *
 *  - `cdc_trickle`, open loop: small wire files published on a fixed
 *    schedule (every [[TrickleIntervalMs]]), a reader issuing
 *    `LogTable.read` key lookups on its own fixed schedule. Each
 *    trigger's fixed cost (listing, planning, WAL, small commits,
 *    compaction every 8 versions) dominates.
 *  - `cdc_bulk`, backlog drain: the whole log staged as [[BulkFiles]]
 *    large files before registration and drained at full speed, as many
 *    times as the run's seconds allow. Per-record work (converter
 *    decode, SMT projection, last-per-key merge, shuffle) dominates.
 *
 * The spec leaves every optional source key at its default (no
 * decodeParallelism, default maxFilesPerTrigger), so a change to a
 * default shows in the numbers.
 */
object Cdc {
  val Name = "orders_cdc"
  val Keys = Seq("order_id")
  /** Wire records per trickle file. */
  val TrickleRecords = 250
  /** Trickle publish interval: about half the one-file-per-trigger rate
   * measured at this file size on 4 cores (see perfbench/README.md). */
  val TrickleIntervalMs = 1500L
  /** The reader runs on the publisher's period, half a period after each
   * publish, so every file meets the same read overlap. */
  val ReadEveryMs = TrickleIntervalMs
  val LookupKeys = 4
  /** Timed lookups after each timed bulk drain. */
  val BulkReads = 4
  /** About how long a timed bulk drain with its check and lookups takes
   * on 4 cores. A run makes --seconds / this many timed drains, a count
   * fixed by its arguments: the drains still speed up as the JVM warms,
   * so a count that grew on a fast run would move the median. */
  val BulkDrainMs = 5000
  /** Change-log steps per bulk backlog, and files it is staged as. */
  val BulkSteps = 3500
  val BulkFiles = 4
  /** Warm set-ups per run; `setup_s` is their median. */
  val SetupWarm = 16

  def spec(in: Path, sink: Path): String = {
    val q = new com.fasterxml.jackson.databind.ObjectMapper()
    def s(v: String) = q.writeValueAsString(v)
    s"""{"name":"$Name",
       |"source":{"type":"parquet","path":${s(in.toString)},
       |  "schemaDdl":${s(Gen.EnvelopeDdl)},
       |  "keyFields":["after"],"seqColumn":"offset",
       |  "topic":"${Gen.Topic}","wireFormat":"json_envelope"},
       |"transforms":[
       |  {"type":"extractNewRecordState"},
       |  {"type":"valueToKey","fields":["order_id"]},
       |  {"type":"regexRouter","pattern":"mysql01\\\\.oc\\\\.(.*)","replacement":"$$1"},
       |  {"type":"timestampConverter","field":"order_ts","target":"Timestamp"}],
       |"sink":{"type":"logtable","path":${s(sink.toString)},"keys":["order_id"]}}""".stripMargin
  }

  /** One registered pipeline: its engine root, input and sink dirs. */
  final case class Rig(root: Path) {
    val in: Path = root.resolve("in")
    val sink: Path = root.resolve("sink")
    val engineRoot: Path = root.resolve("engine")
    def checkpoint: Checkpoint = new Checkpoint(engineRoot.resolve("checkpoints").resolve(Name))
  }

  /** Session up + engine + register, timed; the query is returned running. */
  def setUp(o: Opts, rig: Rig, onSession: SparkSession => Unit = _ => ())
      : (SparkSession, Engine, StreamingQuery, Double) = {
    Files.createDirectories(rig.in)
    val (spark, sessionMs) = Session.restart(o.work)
    onSession(spark)
    val t = System.nanoTime()
    val engine = new Engine(spark, rig.engineRoot.toString)
    val q = engine.registerJson(spec(rig.in, rig.sink))
    (spark, engine, q, sessionMs + (System.nanoTime() - t) / 1e6)
  }

  def readState(spark: SparkSession, sink: Path): Seq[Check.StateRow] =
    LogTable.read(spark, sink.toString, Keys)
      .select(col("order_id"), col("customer_id"), col("status"),
        col("amount_cents"), unix_millis(col("order_ts")).as("ts"))
      .collect().toSeq.map { r =>
        Check.StateRow(if (r.isNullAt(0)) None else Some(r.getLong(0)),
          Order(if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1),
            r.getString(2), r.getLong(3), r.getLong(4)))
      }

  /** Time a cold set-up and then [[SetupWarm]] warm ones, each a fresh
   * session registering the pipeline on an empty source directory of its
   * own; the last one is left running and returned with the warm set-up
   * times (ms). The cold one, the JVM's first, is not counted. */
  def setUps(o: Opts, rig: Int => Rig, onLast: SparkSession => Unit = _ => ())
      : ((SparkSession, Engine, StreamingQuery, Double), Seq[Double]) = {
    var live: (SparkSession, Engine, StreamingQuery, Double) = null
    val warm = ArrayBuffer.empty[Double]
    for (i <- 0 to SetupWarm) {
      if (live != null) live._2.delete(Name)
      live = setUp(o, rig(i), s => if (i == SetupWarm) onLast(s))
      if (i > 0) warm += live._4
    }
    (live, warm.toSeq)
  }

  /** First and one-past-last offset of each wire file. */
  def offsets(files: Seq[Seq[WireRow]]): IndexedSeq[(Long, Long)] =
    files.map(f => (f.head.offset, f.last.offset + 1)).toIndexedSeq

  /** A timed key lookup through `LogTable.read`. */
  def lookup(spark: SparkSession, sink: Path, keys: Seq[Long]): Double =
    Clock.timed(LogTable.read(spark, sink.toString, Keys)
      .filter(col("order_id").isin(keys: _*)).collect())._2

  // ---- cdc_trickle ---------------------------------------------------------

  def trickle(o: Opts): Result = {
    val interval = TrickleIntervalMs
    // file 0 warms the pipeline's data path before the window opens;
    // files 1..n are published on the schedule
    val n = math.max(8, (o.seconds * 1000L / interval).toInt)
    val stepsPerFile = (TrickleRecords / (1.0 + 1.0 / Gen.UpdateEvery + 2.0 / Gen.DeleteEvery)).toInt
    val steps = (n + 1) * stepsPerFile
    val log = Gen.changeLog(o.seed, steps)
    val wire = Gen.wire(log)
    val files = wire.grouped(math.ceil(wire.size.toDouble / (n + 1)).toInt).toVector
    // highest order_id inserted once each file is published (a wire
    // row's order_id is inside its key envelope; inserts use fresh keys)
    val insertedUpTo = {
      val opByOffset = log.flatMap(c => if (c.op == 'd') Seq(c, c) else Seq(c))
      var k = 0L
      var off = 0
      files.map { f =>
        opByOffset.slice(off, off + f.size).foreach(c => if (c.op == 'c') k = math.max(k, c.key))
        off += f.size
        k
      }
    }
    val staged = Stage.wireFiles(files, o.work.resolve("staged"))
    Clock.phase("staged")

    var tracer: Option[Tracer] = None
    val ((spark, engine, query, _), setups) = setUps(o, i => Rig(o.work.resolve(s"rep$i")),
      s => if (o.trace) tracer = Some(Tracer.attach(s)))
    val rig = Rig(o.work.resolve(s"rep$SetupWarm"))
    val cp = rig.checkpoint
    Stage.publish(staged(0), rig.in, Stage.fileName(0), Clock.nowMs)
    query.processAllAvailable()
    Clock.phase("set up and warmed")
    val gc0 = Jvm.gcMs

    // the reader: its own thread, its own fixed schedule and seed
    val stop = new AtomicBoolean(false)
    val published = new AtomicInteger(1)
    val reads = ArrayBuffer.empty[Double]
    val readFailures = new AtomicInteger(0)
    val t0 = Clock.nowMs + 200
    tracer.foreach(_.windowStartMs = t0)
    val reader = new Thread(() => {
      val rnd = new SplittableRandom(o.seed * 31 + 7)
      var i = 0
      while (!stop.get()) {
        Clock.sleepUntil(t0 + ReadEveryMs / 2 + i * ReadEveryMs)
        i = math.max(i + 1, ((Clock.nowMs - t0 - ReadEveryMs / 2) / ReadEveryMs).toInt + 1)
        if (!stop.get()) {
          val top = insertedUpTo(published.get() - 1)
          val keys = Seq.fill(LookupKeys)(rnd.nextLong(1, top + 1))
          try { val ms = lookup(spark, rig.sink, keys); reads.synchronized(reads += ms) }
          catch { case _: Exception => readFailures.incrementAndGet() }
        }
      }
    }, "perfbench-reader")
    reader.setDaemon(true)
    reader.start()

    // the publisher: this thread, fixed schedule, lateness recorded
    val due = (0 to n).map(i => t0 + (i - 1) * interval)
    val late = ArrayBuffer.empty[Double]
    for (i <- 1 to n) {
      Clock.sleepUntil(due(i))
      Stage.publish(staged(i), rig.in, Stage.fileName(i), due(i))
      late += (Clock.nowMs - due(i)).toDouble
      published.set(i + 1)
      cp.pollCommits()
      Jvm.sampleHeap()
    }
    query.processAllAvailable()
    stop.set(true)
    reader.join()
    Clock.phase("window")
    val commits = cp.commits
    val batchOf = cp.fileBatches
    val lat = (1 to n).map(i => (commits(batchOf(Stage.fileName(i))) - due(i)).toDouble)
    val end = (1 to n).map(i => commits(batchOf(Stage.fileName(i)))).max
    val windowMs = (end - t0).toDouble
    val records = files.drop(1).map(_.size).sum.toDouble

    val state = readState(spark, rig.sink)
    val v = Check.cdc(log, state)
    Clock.phase("checked")
    val attempted = v.attempted + reads.size + readFailures.get()
    val failed = v.failed + readFailures.get()
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups) / 1000.0, "s"),
      Metric("throughput_rps", records / (windowMs / 1000.0), "rec/s"),
      Metric("latency_p50_ms", Stats.pct(lat, 50), "ms"),
      Metric("latency_p90_ms", Stats.pct(lat, 90), "ms"),
      Metric("read_p50_ms", Stats.median(reads.toSeq), "ms"))
    val metrics = tracer match {
      case None => e2e
      case Some(tr) =>
        val pub = (1 to n).map(i => Stage.fileName(i) -> due(i)).toMap
        val layer = tr.pipelineMetrics(pub, batchOf - Stage.fileName(0), windowMs) ++
          Seq(Metric("sinks.state_bytes_end", Files2.du(rig.sink).toDouble, "bytes")) ++
          tr.jvmMetrics(windowMs) ++ Jvm.metrics(gc0, windowMs) ++
          Seq(Metric("loadgen.late_ms_p90", Stats.pct(late.toSeq, 90), "ms"),
            Metric("check.failed_frac", failed.toDouble / attempted, "ratio")) ++
          Replay.cdc(spark, o, staged, offsets(files), batchOf, steps, tr) ++
          tr.overheadMetrics(e2e)
        tr.detach()
        layer
    }
    engine.delete(Name)
    Result(v.correct, attempted, failed, metrics,
      v.notes ++ Seq(s"files=$n records=${records.toLong} reads=${reads.size} " +
        s"read_failures=${readFailures.get()} late_p90_ms=${Stats.pct(late.toSeq, 90)}",
        s"latency_ms=${lat.mkString(",")} setup_ms=${setups.mkString(",")}"))
  }

  // ---- cdc_bulk ------------------------------------------------------------

  def bulk(o: Opts): Result = {
    val log = Gen.changeLog(o.seed, BulkSteps)
    val wire = Gen.wire(log)
    val files = wire.grouped(math.ceil(wire.size.toDouble / BulkFiles).toInt).toVector
    val staged = Stage.wireFiles(files, o.work.resolve("staged"))
    Clock.phase("staged")
    val keyRnd = new SplittableRandom(o.seed * 31 + 7)

    val drains, lat, reads = ArrayBuffer.empty[Double]
    // every drain replays the same log: an operation counts once, as
    // failed when any drain lost it, however many drains the run makes
    var verdict = Check.Verdict(correct = true, 0, 0, Nil)
    var tracer: Option[Tracer] = None
    var gc0 = 0L
    var spark = Session.build(o.work)
    /** Drain into `dir`: stage the whole backlog, register it on the
     * current session, drain it and check the state; time it when
     * `timed`. Returns the file -> batch map and the due time
     * (registration). */
    def drain(dir: String, timed: Boolean, traced: Boolean): (Map[String, Long], Long) = {
      val rig = Rig(o.work.resolve(dir))
      Files.createDirectories(rig.in)
      // the backlog is in place before registration
      staged.zipWithIndex.foreach { case (p, i) =>
        Stage.publish(p, rig.in, Stage.fileName(i), 1700000000000L + i)
      }
      if (traced) { tracer = Some(Tracer.attach(spark)); gc0 = Jvm.gcMs }
      val engine = new Engine(spark, rig.engineRoot.toString)
      val query = engine.registerJson(spec(rig.in, rig.sink))
      val due = Clock.nowMs
      query.processAllAvailable()
      Jvm.sampleHeap()
      val cp = rig.checkpoint
      val commits = cp.commits
      val batchOf = cp.fileBatches
      val fileLat = staged.indices.map(i => (commits(batchOf(Stage.fileName(i))) - due).toDouble)
      Clock.phase(s"drain $dir")
      if (timed) {
        drains += fileLat.max
        lat ++= fileLat
        for (_ <- 0 until BulkReads)
          reads += lookup(spark, rig.sink, Seq.fill(LookupKeys)(keyRnd.nextLong(1, BulkSteps + 1)))
      }
      verdict = verdict.union(Check.cdc(log, readState(spark, rig.sink)))
      engine.delete(Name)
      (batchOf, due)
    }

    // the JVM's first drain runs cold and warms the data path; it is
    // checked, not timed
    drain("cold", timed = false, traced = false)
    val ((setupSpark, setupEngine, _, _), setups) = setUps(o, i => Rig(o.work.resolve(s"setup$i")))
    setupEngine.delete(Name)
    // the timed drains run on the last set-up's session, after one
    // untimed drain that warms it
    spark = setupSpark
    Clock.phase("set up")
    drain("warm", timed = false, traced = false)
    // a traced run makes exactly two timed drains and traces the second
    val rep = if (o.trace) 2 else math.max(2, o.seconds * 1000 / BulkDrainMs)
    val last = (1 to rep).map(i => drain(s"drain$i", timed = true, traced = o.trace && i == 2)).last
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups) / 1000.0, "s"),
      Metric("throughput_rps", Stats.median(drains.toSeq.map(d => wire.size / (d / 1000.0))), "rec/s"),
      Metric("latency_p50_ms", Stats.pct(lat.toSeq, 50), "ms"),
      Metric("latency_p90_ms", Stats.pct(lat.toSeq, 90), "ms"),
      Metric("read_p50_ms", Stats.median(reads.toSeq), "ms"))
    val attempted = verdict.attempted
    val metrics = tracer match {
      case None => e2e
      case Some(tr) =>
        val window = drains.last
        val (batchOf, due) = last
        val sink = Rig(o.work.resolve(s"drain$rep")).sink
        val layer = tr.pipelineMetrics(staged.indices.map(i => Stage.fileName(i) -> due).toMap,
            batchOf, window) ++
          Seq(Metric("sinks.state_bytes_end", Files2.du(sink).toDouble, "bytes")) ++
          tr.jvmMetrics(window) ++ Jvm.metrics(gc0, window) ++
          // the backlog is staged before its due time (registration), so
          // the generator is never late here
          Seq(Metric("loadgen.late_ms_p90", 0.0, "ms"),
            Metric("check.failed_frac", verdict.failed.toDouble / attempted, "ratio")) ++
          Replay.cdc(spark, o, staged, offsets(files), batchOf, BulkSteps, tr) ++
          tr.overheadMetrics(e2e)
        tr.detach()
        layer
    }
    Result(verdict.correct, attempted, verdict.failed, metrics,
      verdict.notes ++ Seq(s"drains=$rep records=${wire.size} drain_ms=${drains.mkString(",")}",
        s"setup_ms=${setups.mkString(",")}"))
  }
}
