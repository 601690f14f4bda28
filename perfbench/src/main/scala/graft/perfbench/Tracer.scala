package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM-wide counters read around the measured window. */
object Jvm {
  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  @volatile private var heapPeak = 0L
  def sampleHeap(): Unit = {
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    if (used > heapPeak) heapPeak = used
  }
  def heapPeakMb: Double = { sampleHeap(); heapPeak / 1048576.0 }

  /** GC time over a window that began at `gcMs0`, and the heap peak. */
  def metrics(gcMs0: Long, windowMs: Double): Seq[Metric] = Seq(
    Metric("jvm.gc_ms_per_min", (gcMs - gcMs0) / math.max(windowMs, 1.0) * 60000.0, "ms/min"),
    Metric("jvm.heap_peak_mb", heapPeakMb, "MB"))
}

/**
 * The traced run's recorder: three public Spark listeners registered
 * from outside the program, plus spans the benchmark opens around its
 * own calls into each layer. Everything stays in memory and is written
 * to `spans.jsonl` at the end of the run.
 *
 *  - `StreamingQueryListener`: per-trigger `durationMs` buckets.
 *  - `QueryExecutionListener`: per-plan analysis/optimization/planning
 *    ms (`qe.tracker.phases`).
 *  - `SparkListener`: per-job wall, tasks, CPU, shuffle and bytes
 *    written, with the job's description (the `adm:*` labels) and call
 *    site.
 */
final class Tracer private (val spark: SparkSession) {
  import Tracer._

  val progress = ArrayBuffer.empty[Progress]
  val plans = ArrayBuffer.empty[Plan]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  val spans = ArrayBuffer.empty[Span]
  @volatile private var callbackNs = 0L
  private val t0Ns = System.nanoTime()

  private def inCallback(body: => Unit): Unit = {
    val t = System.nanoTime()
    try body finally callbackNs += System.nanoTime() - t
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      inCallback {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
        progress.synchronized {
          progress += Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.numInputRows, d)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      inCallback {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
        val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
        plans.synchronized {
          plans += Plan(start, ms("analysis"), ms("optimization"), ms("planning"))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = inCallback {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs.synchronized {
        jobs(e.jobId) = Job(e.jobId, prop("spark.job.description").getOrElse(""),
          prop("callSite.short").getOrElse(""), e.time)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = inCallback {
      jobs.synchronized(jobs.get(e.jobId).foreach(_.end = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = inCallback {
      jobs.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
    }
  }

  private def register(): Unit = {
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(sparkListener)
  }

  /** Deliver every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def detach(): Unit = {
    drain()
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  // ---- spans ----------------------------------------------------------------

  private var open = List.empty[Int]

  /** Time `body` as a span; spans opened inside it are its children. */
  def span[A](name: String, batch: Long)(body: => A): A = {
    val id = spans.size
    val s = Span(id, open.headOption, name, batch, System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = id :: open
    try body finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  /** A span's duration minus the part its children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent.contains(s.id)).map(_.ms).sum

  def spansNamed(n: String): Seq[Span] = spans.filter(_.name == n).toSeq

  /** Jobs and plans that started inside a span's interval. */
  def jobsIn(s: Span): Seq[Job] = jobsBetween(s.startMs, s.endMs)
  def plansIn(s: Span): Seq[Plan] = plans.filter(p => p.startMs >= s.startMs && p.startMs <= s.endMs).toSeq
  /** Wall time of a set of (possibly overlapping) jobs: first start to
   * last end. */
  def spanMs(js: Seq[Job]): Double =
    if (js.isEmpty) 0.0 else (js.map(_.end).max - js.map(_.start).min).toDouble
  def jobsBetween(a: Long, b: Long): Seq[Job] =
    jobs.values.filter(j => j.start >= a && j.start <= b).toSeq

  def writeSpans(p: Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent.getOrElse("null")},"name":"${s.name}",""" +
        s""""batch":${s.batch},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        f""""ms":${s.ms}%.3f,"self_ms":${selfMs(s)}%.3f}"""
    }
    Files.write(p, lines.asJava)
  }

  // ---- metric helpers -------------------------------------------------------

  /** Triggers that took data, from the measured window on. */
  def dataTriggers: Seq[Progress] =
    progress.filter(p => p.rows > 0 && p.startMs >= windowStartMs).sortBy(_.batchId).toSeq

  /** Start of the measured window; set-up triggers before it are not
   * counted. */
  @volatile var windowStartMs = 0L

  /** Engine trigger loop, from progress events: per-trigger buckets,
   * files per trigger, backlog at each trigger start and the time a
   * file waited for the trigger that took it. */
  def pipelineMetrics(published: Map[String, Long], batchOf: Map[String, Long],
                      windowMs: Double): Seq[Metric] = {
    drain()
    val ts = dataTriggers
    def p50(k: String*) = Stats.pct(ts.map(t => k.map(t.d.getOrElse(_, 0L)).sum.toDouble), 50)
    val startOf = ts.map(t => t.batchId -> t.startMs).toMap
    val filesPer = batchOf.groupBy(_._2).view.mapValues(_.size.toDouble).values.toSeq
    val lag = ts.map { t =>
      published.count { case (f, pub) =>
        pub <= t.startMs && batchOf.get(f).forall(_ >= t.batchId)
      }.toDouble
    }
    val wait = published.toSeq.flatMap { case (f, pub) =>
      batchOf.get(f).flatMap(startOf.get).map(s => math.max(0L, s - pub).toDouble)
    }
    val trig = ts.map(_.d.getOrElse("triggerExecution", 0L).toDouble)
    Seq(
      Metric("pipeline.trigger_ms_p50", Stats.pct(trig, 50), "ms"),
      Metric("pipeline.trigger_ms_p90", Stats.pct(trig, 90), "ms"),
      Metric("pipeline.query_planning_ms_p50", p50("queryPlanning"), "ms"),
      Metric("pipeline.wal_commit_ms_p50", p50("walCommit"), "ms"),
      Metric("pipeline.list_ms_p50", p50("latestOffset", "getBatch"), "ms"),
      Metric("pipeline.add_batch_ms_p50", p50("addBatch"), "ms"),
      Metric("pipeline.triggers", ts.size.toDouble, "count"),
      Metric("pipeline.rows_per_trigger_p50", Stats.pct(ts.map(_.rows.toDouble), 50), "rows"),
      Metric("pipeline.files_per_trigger_p50", Stats.pct(filesPer, 50), "files"),
      Metric("pipeline.lag_files_p90", Stats.pct(lag, 90), "files"),
      Metric("pipeline.queue_wait_ms_p50", Stats.pct(wait, 50), "ms"),
      Metric("pipeline.busy_frac", trig.sum / math.max(windowMs, 1.0), "ratio"))
  }

  /** Task CPU over the streaming triggers' intervals. */
  def jvmMetrics(windowMs: Double): Seq[Metric] = {
    drain()
    val ts = dataTriggers
    val cpuNs = ts.flatMap { t =>
      jobsBetween(t.startMs, t.startMs + t.d.getOrElse("triggerExecution", 0L))
    }.distinct.map(_.cpuNs).sum
    Seq(Metric("jvm.task_cpu_util", cpuNs / 1e6 / math.max(windowMs, 1.0) / Session.cores, "ratio"))
  }

  /** Tracing cost: time spent inside the listener callbacks, against the
   * traced run's own wall time. The end-to-end difference between a
   * traced and an untraced run is printed by `run.py --steady`. */
  def overheadMetrics(e2e: Seq[Metric]): Seq[Metric] = {
    val wallMs = (System.nanoTime() - t0Ns) / 1e6
    Seq(Metric("trace.listener_ms", callbackNs / 1e6, "ms"),
      Metric("trace.listener_frac", callbackNs / 1e6 / math.max(wallMs, 1.0), "ratio")) ++
      e2e.filterNot(_.name == "setup_s").map(m => m.copy(name = s"trace.${m.name}"))
  }
}

object Tracer {
  final case class Progress(batchId: Long, startMs: Long, rows: Long, d: Map[String, Long])
  final case class Plan(startMs: Long, analysisMs: Double,
                        optimizationMs: Double, planningMs: Double) {
    def planMs: Double = analysisMs + optimizationMs + planningMs
  }
  final case class Job(id: Int, desc: String, callSite: String, start: Long,
                       var end: Long = -1L, var tasks: Int = 0, var cpuNs: Long = 0L,
                       var shuffleWrite: Long = 0L, var bytesWritten: Long = 0L)
  final case class Span(id: Int, parent: Option[Int], name: String, batch: Long,
                        startMs: Long, startNs: Long, var endMs: Long = 0L,
                        var endNs: Long = 0L) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** Register the listeners. Call before the pipeline registers: a
   * streaming query runs its micro-batches in a clone of the session,
   * which copies the session's query-execution listeners when it starts. */
  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    t.register()
    t
  }
}
