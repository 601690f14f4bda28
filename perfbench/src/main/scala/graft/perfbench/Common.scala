package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. `tiny` is not one: only
 * the self-test sets it, to run a workload at a tiny size. */
final case class Opts(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: Path, tiny: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(req("--workload"), req("--seed").toLong, req("--seconds").toInt,
      m.get("--trace").contains("1"), Paths.get(req("--work")).toAbsolutePath,
      tiny = false)
  }
}

/** One metric as printed: name, measured value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** A run's verdict: `failed` counts operations whose effect is missing
 * from the output; `correct` is false when the output holds something
 * no mix of applied and failed operations could produce. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[Metric], notes: Seq[String] = Nil) {
  def json: String = {
    val ms = metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "0" else m.value.toString
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Stats {
  /** Percentile (0 <= p <= 100) of a sample, linearly interpolated
   * between the two nearest ranks; 0 when empty. A nearest-rank p90
   * would jump from one sample to the next as the count per run
   * crosses a multiple of ten (the gate's one fold wave in 9 or 10). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = pos.toInt
      if (lo + 1 >= s.size) s(lo) else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }
  /** Median; the mean of the middle pair for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Clock {
  def nowMs: Long = System.currentTimeMillis()
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Note on stderr how far into the JVM's life a run phase ends. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] phase $name at ${(nowMs - jvmStart) / 1000.0}%.1f s")
  def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t) / 1e6)
  }
  def sleepUntil(ms: Long): Unit = {
    var d = ms - nowMs
    while (d > 0) { Thread.sleep(math.min(d, 50)); d = ms - nowMs }
  }
}

object Files2 {
  def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else { val s = Files.list(p); try s.iterator().asScala.toSeq finally s.close() }

  /** Bytes under a directory (0 when absent). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p); try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum finally s.close() }

  def rm(p: Path): Unit = graft.util.Fs.deleteRecursive(p)
}

/** The session the benchmark drives graft through: `local[nproc]` with
 * as many shuffle partitions as cores, every scratch directory inside
 * the run's work dir. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def build(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Stop any running session and time building a fresh one (ms). */
  def restart(work: Path): (SparkSession, Double) = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    Clock.timed(build(work))
  }
}

/** Reads the streaming checkpoint the way an operator would from
 * outside the program: which files each micro-batch took (the file
 * source log) and when each batch committed (the commit log's file
 * mtime). */
final class Checkpoint(dir: Path) {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val commitSeen = scala.collection.mutable.Map.empty[Long, Long]

  /** Record the commit files present now; the commit log keeps only
   * the newest batches, so long runs call this as they go. */
  def pollCommits(): Unit = synchronized {
    Files2.list(dir.resolve("commits")).foreach { p =>
      p.getFileName.toString.toLongOption.foreach { id =>
        if (!commitSeen.contains(id))
          try commitSeen(id) = Files.getLastModifiedTime(p).toMillis
          catch { case _: java.nio.file.NoSuchFileException => () }
      }
    }
  }

  def commits: Map[Long, Long] = synchronized { pollCommits(); commitSeen.toMap }

  /** file name -> batch id, from the file source log (plain and
   * compacted entries). */
  def fileBatches: Map[String, Long] = {
    val src = dir.resolve("sources").resolve("0")
    Files2.list(src).filterNot(_.getFileName.toString.startsWith("."))
      .flatMap { p =>
        Files.readAllLines(p).asScala.drop(1).filter(_.startsWith("{")).map { l =>
          val n = mapper.readTree(l)
          Paths.get(new java.net.URI(n.get("path").asText)).getFileName.toString ->
            n.get("batchId").asLong
        }
      }.toMap
  }
}
