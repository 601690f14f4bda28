package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared testdata readers for the query registries. */
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
   * what [[stageEventsFile]] writes, so `readStream.schema(...)` and the
   * staged files always agree regardless of the generator's encoding. */
  val eventsStreamSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Stage a frame as ONE parquet file at `dst`, stamped with
   * `mtimeMillis` (the file source replays files in mtime order —
   * deterministic micro-batch sequencing needs explicit stamps).
   * Always a rewrite, never a hard link of the source file: a link
   * shares the testdata inode, so stamping its mtime would mutate the
   * read-only testdata in place — and a rewrite is what decouples the
   * gates from the generator's physical encoding in the first place. */
  def stageFile(df: DataFrame, dst: java.nio.file.Path, mtimeMillis: Long): Unit =
    stageFile(df, Seq(dst), mtimeMillis)

  /** [[stageFile]] fanned to several destinations (one staged wave
   * feeding N connectors' input dirs). SAFE AGAINST A RUNNING STREAM:
   * everything intermediate is dot-prefixed (the file source's index
   * skips any path component starting with `.` or `_`), the mtime is
   * stamped while the file is still invisible, and ONE atomic same-dir
   * move publishes it — a live `FileStreamSource` can never list a torn
   * file or observe a wave before its mtime is final. */
  def stageFile(df: DataFrame, dsts: Seq[java.nio.file.Path],
                mtimeMillis: Long): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val head = dsts.head
    val tmp = head.resolveSibling("." + head.getFileName.toString + ".stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = graft.state.StateDir.children(tmp)
      .find(_.toString.endsWith(".parquet")).get
    dsts.zipWithIndex.foreach { case (dst, i) =>
      val hidden = dst.resolveSibling("." + dst.getFileName.toString + ".tmp")
      graft.state.StateDir.publish(hidden, dst) { h =>
        if (i < dsts.size - 1)
          Files.copy(part, h, StandardCopyOption.REPLACE_EXISTING)
        else Files.move(part, h, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(h,
          java.nio.file.attribute.FileTime.fromMillis(mtimeMillis))
      }
    }
    graft.util.Fs.deleteRecursive(tmp)
  }

  /** Stage `df` at `dst`, deriving + materializing it at most ONCE per
   * JVM per `cacheKey` (r18 — the memo discipline applied to input
   * staging): the first call runs [[stageFile]]'s coalesce-to-one-file
   * write into `target/tmp/stage_cache/<cacheKey>`; every later call —
   * sibling gates staging the identical frame (several w-gates stage
   * the same normalized events table) and later bench reps — publishes
   * a byte copy via [[stageCopy]]. JVM-scoped (a fresh invocation
   * always re-derives from the parquet inputs); `cacheKey` must
   * uniquely name (frame derivation × data dir). */
  def stageFileCached(cacheKey: String, df: => DataFrame,
                      dst: java.nio.file.Path, mtimeMillis: Long): Unit =
    stageCopy(stagedFile(cacheKey, df), dst, mtimeMillis)

  /** The cache-or-build half of [[stageFileCached]]: the single-file
   * staged form of `df`, materialized at most once per JVM per
   * `cacheKey`. Callers that fan one wave to several destinations
   * copy from the returned path via [[stageCopy]]. */
  def stagedFile(cacheKey: String, df: => DataFrame): java.nio.file.Path =
    stageCache.getOrElseUpdate(cacheKey, {
      val dir = java.nio.file.Paths.get(s"target/tmp/stage_cache/$cacheKey")
      graft.util.Fs.deleteRecursive(dir)
      java.nio.file.Files.createDirectories(dir)
      val p = dir.resolve("staged.parquet")
      stageFile(df, p, 0L)
      p
    })

  private val stageCache =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

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

  /** Publish an ALREADY-MATERIALIZED staged file to `dst` with
   * `mtimeMillis` — the byte-copy fast path of [[stageFile]] for wave
   * files a session stages more than once (r18: bench reps and sibling
   * gates re-derived identical wave frames per invocation; deriving
   * once and copying keeps the same hidden-tmp → stamp-while-invisible
   * → single atomic rename publish discipline, so a live
   * FileStreamSource still can never list a torn file or a pre-final
   * mtime). */
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
