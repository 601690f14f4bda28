package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}

/** Shared testdata readers for the query registries, and the one
 * wave-staging seam ([[stageWaves]]) through which every file-source
 * gate, tool and spec replays its fixture waves. */
object Tables {

  def T(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") readEvents(s, dir)
    else {
      // r19 (guide §6 — make the scan cheap): the testdata tables are
      // immutable by contract, but a bare spark.read.parquet re-infers
      // the schema from footers at EVERY call — a driver-side footer
      // read per table per gate per rep, hundreds per bench run (the
      // readStateTable discipline applied to the fixture readers; at
      // scale this is schema sampling over many files). The schema is
      // memoized per absolute path; the returned frame stays bound to
      // the CALLER's session, so scoped-session confs are untouched.
      val path = s"$dir/$name.parquet"
      val abs = new java.io.File(path).getAbsolutePath
      val sc = tableSchemaMemo.getOrElseUpdate(abs,
        s.read.parquet(path).schema)
      s.read.schema(sc).parquet(path)
    }

  private val tableSchemaMemo =
    scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** [[T]] plus an explicit repartition to the session's default
   * parallelism. The synthetic testdata packs each table into a SINGLE
   * parquet row group, so Spark cannot split the scan and any
   * compute-heavy narrow pipeline (tokenize + hash) pins to one task; a
   * real corpus has thousands of row groups and needs no such step. The
   * shuffle moves only the raw rows once and buys full-core parallelism
   * for everything downstream. */
  def Tpar(s: SparkSession, dir: String, name: String): DataFrame =
    T(s, dir, name).repartition(s.sparkContext.defaultParallelism)

  /** events.parquet's `ts` physical encoding has varied across testdata
   * generations: TIMESTAMP(NANOS) (which Spark's parquet reader rejects
   * unless the legacy nanos-as-long flag maps it to BIGINT nanos) and
   * plain TIMESTAMP(MICROS). Read under the flag and branch on what the
   * footer actually declared: a LongType column is nanos (truncate to
   * micros — exactly DuckDB's ns->us conversion), anything temporal is
   * already micros. Either way the column surfaces as TIMESTAMP_NTZ like
   * every other no-zone parquet timestamp in the testdata. The legacy
   * flag is scoped to a child session (shared SparkContext, isolated
   * conf) so the caller's session never observes the side effect. */
  def readEvents(s: SparkSession, dir: String): DataFrame =
    eventsCache.getOrElseUpdate((s.sparkContext, dir), {
      val scoped = s.newSession()
      scoped.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      scoped.conf.set("spark.sql.session.timeZone", "UTC")
      val raw = scoped.read.parquet(s"$dir/events.parquet")
      val tsMicros = raw.schema("ts").dataType match {
        case LongType => timestamp_micros(expr("ts div 1000"))
        case _        => col("ts")
      }
      raw.withColumn("ts", tsMicros.cast(TimestampNTZType))
    })

  /** The normalized-events schema as the file-stream gates need it:
   * what [[readEvents]] returns and the gates stage as a wave, so
   * `readStream.schema(...)` and the staged files always agree
   * regardless of the generator's encoding. */
  val eventsStreamSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** The wave-staging entry: every file-source gate replays its fixture
   * through it, so the replay order is decided here and nowhere else.
   * Wave `i` of `key` is one parquet file `waveNN.parquet`, published
   * through a hidden stage and one atomic rename ([[stageCopy]]) and
   * stamped `T0 + i` minutes. The file source lists files oldest-first
   * and, at `maxFilesPerTrigger = 1`, makes each file one micro-batch,
   * so the stamp is the replay order. `T0` is a fixed instant, not the
   * wall clock, so every replay lists identically. The stamps are a
   * minute apart: strictly ordered under any filesystem's mtime
   * granularity, and far inside the file source's `maxFileAge` window
   * (7 days back from the newest file), so no wave ages out unread.
   *
   * `waves` is derived and materialized at most once per JVM per `key`
   * (the wave files live under `target/tmp/stage_cache/<key>`; a fresh
   * JVM always re-derives from the parquet inputs), its waves built
   * concurrently. By name, so a derivation that needs a driver-side
   * action (a midpoint cut shared by its waves) runs it once. `key`
   * must name (derivation × data dir); gates that stage the identical
   * frame share one key on purpose. Two concurrent first callers of
   * one key run `waves` once: the second waits for the first's build.
   *
   * Returns `publish(i, dirs)`, which lands wave `i` in every dir of
   * `dirs` (one wave can feed several connectors' inputs), safe against
   * a stream already running over them. */
  def stageWaves(key: String, waves: => Seq[DataFrame])
      : (Int, Seq[Path]) => Unit = {
    val files = waveCache.computeIfAbsent(key,
      _ => new StagedWaves(key, waves)).files
    (i, dirs) => dirs.foreach(d =>
      stageCopy(files(i), d.resolve(f"wave$i%02d.parquet"), waveMtime(i)))
  }

  /** Wave `i`'s stamp: `T0 + i` minutes. */
  private[graft] def waveMtime(i: Int): Long = 1000000000000L + i * 60000L

  /** One key's staged waves. A lazy val initializes once under the
   * cell's own lock, so concurrent first readers of a key build it once
   * while builds of other keys proceed; a failed build is retried by
   * the next reader. */
  private final class StagedWaves(key: String, waves: => Seq[DataFrame]) {
    lazy val files: IndexedSeq[Path] = {
      val dir = Paths.get(s"target/tmp/stage_cache/$key")
      graft.util.Fs.deleteRecursive(dir)
      Files.createDirectories(dir)
      val ws = waves.toIndexedSeq
      val dsts = ws.indices.map(i => dir.resolve(f"wave$i%02d.parquet"))
      graft.pipeline.AdmissionGate.inParallel(ws.zip(dsts).map {
        case (w, p) => () => stageFile(w, p, 0L)
      })
      dsts
    }
  }

  private val waveCache =
    new java.util.concurrent.ConcurrentHashMap[String, StagedWaves]()

  /** Stage a frame as ONE parquet file at `dst`, stamped `mtimeMillis`,
   * through [[stageCopy]]'s publish. Always a rewrite, never a hard
   * link of the source file: a link shares the testdata inode, so
   * stamping its mtime would mutate the read-only testdata in place,
   * and a rewrite is what decouples the gates from the generator's
   * physical encoding in the first place. */
  def stageFile(df: DataFrame, dst: Path, mtimeMillis: Long): Unit = {
    val tmp = dst.resolveSibling("." + dst.getFileName.toString + ".stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    stageCopy(graft.state.StateDir.children(tmp)
      .find(_.toString.endsWith(".parquet")).get, dst, mtimeMillis)
    graft.util.Fs.deleteRecursive(tmp)
  }

  /** Collision-safe cache-key fragment for a data dir: basename for
   * readability + 8 hex of the absolute path's MD5 (the memoFrame
   * lesson — two fixture dirs sharing a basename must never share a
   * cached artifact). */
  def dirTag(dir: String): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
    s"${new java.io.File(dir).getName}_$md5"
  }

  /** Publish the already-materialized file `src` at `dst`, stamped
   * `mtimeMillis`: copied into a hidden `.<name>.tmp` (the file source
   * skips any path component starting with `.` or `_`), stamped while
   * still invisible, and published by ONE atomic same-dir rename, so a
   * live FileStreamSource never lists a torn file or a pre-final
   * mtime. */
  def stageCopy(src: java.nio.file.Path, dst: java.nio.file.Path,
                mtimeMillis: Long): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val hidden = dst.resolveSibling("." + dst.getFileName.toString + ".tmp")
    graft.state.StateDir.publish(hidden, dst) { h =>
      Files.copy(src, h, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(h,
        java.nio.file.attribute.FileTime.fromMillis(mtimeMillis))
    }
  }

  /** The converted events frame, memoized per (context, dir): building
   * it costs a child-session spin-up plus a parquet file-listing +
   * footer read at plan time, and a dozen queries read events — paying
   * that per call tripled their wall time at bench scale. Keyed by
   * SparkContext so a restarted context never serves a frame bound to a
   * stopped one; only the (tiny) analyzed plan is held, no data is
   * pinned. The plan's file listing freezes at first read — fine HERE
   * because `Tables` reads the driver's immutable testdata by contract;
   * a general-purpose reader over mutable paths must re-list (read
   * through `spark.read` directly, not this cache). */
  private val eventsCache =
    scala.collection.concurrent.TrieMap.empty[(org.apache.spark.SparkContext, String), DataFrame]
}
