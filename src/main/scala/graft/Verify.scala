package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness-to-budget design (r14 lesson — the round's official
  * artifact came back EMPTY because the dump didn't finish inside the
  * driver's wall budget):
  *  - `oracle_sql.json` is written FIRST, so a mid-dump kill still
  *    leaves every completed gate comparable instead of zeroing the
  *    round (rendering the dynamic oracles also pre-trains the memoized
  *    constants the gate functions share — shared work, not extra).
  *  - gates dump through a small driver-side thread pool
  *    (`SPARK_GRAFT_VERIFY_PAR`, default 4): every gate's temp dirs,
  *    Derby databases and REST ports are gate-name-keyed or ephemeral;
  *    the one thing gates share on purpose is `Tables.stageWaves`'
  *    per-JVM wave cache (w4, w5 and w6 stage one events wave), which
  *    builds each key once even under concurrent first callers. Spark
  *    schedules their jobs fairly on one session. Measured: 373 s
  *    serial → well under the budget in parallel at the same CPU count.
  *  - per-gate wall seconds log to stderr (`[verify-time]`) so a budget
  *    regression is diagnosable from the driver log alone. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — extra names restrict the dump
    // (local iteration); the driver passes exactly two and dumps all.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val t0 = System.nanoTime()
    // trained-constant oracles render per dir; only the requested ones
    // (training runs once per dir — the query fns share the memo)
    val dynamic = SparkEntry.dynamicOracleSql
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) => name -> fn(spark, sfDir) }
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(f"[verify-time] oracle_sql.json ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val pending = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val failedNames = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val doneCount = new java.util.concurrent.atomic.AtomicInteger(0)
    // Machine-readable failure sidecar (r16 judge finding #3: the failure
    // count lived only in stderr). Rewritten after EVERY gate so a driver
    // kill mid-dump still leaves an accurate {failures, failed, pending}
    // — anything in `pending` when the artifact is read was killed
    // mid-write and must be treated as failed. Exit code stays 0 by
    // design (a nonzero rc could make the driver discard a partial dump
    // that carries every completed gate).
    def writeSidecar(): Unit = synchronized {
      import scala.jdk.CollectionConverters._
      val f = failedNames.asScala.toSeq.sorted.map(q).mkString("[", ",", "]")
      val p = pending.asScala.toSeq.sorted.map(q).mkString("[", ",", "]")
      try Files.writeString(Paths.get(s"$outDir/failures.json"),
        s"""{"done":${doneCount.get()},"failures":${failures.get()},"failed":$f,"pending":$p}""")
      catch { case _: Throwable => () }
    }
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        pending.add(name)
        pool.submit(new Runnable { def run(): Unit = {
          val g0 = System.nanoTime()
          // each gate gets its OWN session (shared SparkContext): gates
          // register fixed-name temp views (v_customer, v_documents, …)
          // via createOrReplaceTempView, and on one shared session a
          // future gate binding the same name over different data would
          // silently corrupt a concurrent gate's dump — newSession
          // isolates the catalogs (SQL confs re-read from the SparkConf
          // the builder populated, so shuffle.partitions etc. carry over)
          try fn(spark.newSession(), sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            failures.incrementAndGet()
            failedNames.add(name)
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          pending.remove(name)
          doneCount.incrementAndGet()
          writeSidecar()
          System.err.println(f"[verify-time] $name ${(System.nanoTime() - g0) / 1e9}%.2f s (total ${(System.nanoTime() - t0) / 1e9}%.1f s)")
        }})
      }
    writeSidecar() // first snapshot (all gates submitted; most still pending)
    pool.shutdown()
    val finished =
      pool.awaitTermination(2, java.util.concurrent.TimeUnit.HOURS)
    if (!finished) {
      // killed mid-write gates must read as failures, loudly — a clean
      // "ALL DONE" after a timeout would hide them from the driver log
      import scala.jdk.CollectionConverters._
      val stuck = pending.asScala.toSeq.sorted
      failures.addAndGet(stuck.size)
      stuck.foreach(failedNames.add)
      writeSidecar()
      System.err.println(
        s"[verify] TIMEOUT after 2h — unfinished gates: ${stuck.mkString(", ")}")
    }
    System.err.println(f"[verify-time] ALL DONE ${(System.nanoTime() - t0) / 1e9}%.1f s, failures=${failures.get()}")
    // exit 0 even on failures: the driver's gate is the per-query
    // artifact compare, and a nonzero rc could discard a partial dump
    // that still carries every completed gate
    spark.stop()
  }
}
