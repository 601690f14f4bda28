package graft.sinks

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.state.StateDir
import graft.util.Fs

/**
 * Versioned keyed table — the one keyed file sink: the Engine's
 * `"table"` and `"logtable"` kinds both commit through it
 * ([[graft.pipeline.KeyedFileSink]]). A miniature transaction-log
 * format, Delta/Iceberg's idea reduced to the piece the keyed sink needs:
 *
 *  - each batch appends ONE delta version holding only that batch's
 *    last-per-key rows (tombstones travel as marker rows) — write cost
 *    is O(batch), never O(state);
 *  - the payload is stored verbatim; the log's own `_`-columns never
 *    surface in [[read]];
 *  - reads merge the versions by (version, `_seq`) last-write-wins —
 *    cost bounded by compaction cadence;
 *  - [[compact]] folds everything into a single version that KEEPS
 *    tombstone markers, so a crash between the compacted write and the
 *    old-version cleanup re-merges to the identical state (replay-safe,
 *    like every other graft merge path).
 *
 * A version commits through the [[graft.state.StateDir.publish]] staged
 * publish: written to a hidden `.tmp-v%08d` dir, then ONE atomic
 * directory rename to `v%08d` — a version either exists completely or
 * not at all; leftover temp dirs are ignored by readers and swept by the
 * next writer (safe under the engine's single-writer rule, L6).
 */
object LogTable {

  // 8+ digits: zero-padding keeps names sortable, but the match must not
  // silently drop a version that outgrows the padding
  private val VersionRe = "v(\\d{8,})".r
  private val BatchMarkerRe = "_batchid-(\\d+)".r

  private final case class Version(n: Int, dir: Path, batchId: Option[Long])

  /** The log's own columns (ordering, tombstone marker, and the version
   * and merge order added on read); `flatten` drops a same-named field. */
  private val Internal = Seq("_seq", "_tombstone", "_v", "_ord")

  private def versionList(path: String): Seq[Version] =
    StateDir.children(Paths.get(path)).flatMap { p =>
      p.getFileName.toString match {
        case VersionRe(n) =>
          val marker = StateDir.children(p).map(_.getFileName.toString).collectFirst {
            case BatchMarkerRe(id) => id.toLong
          }
          Some(Version(n.toInt, p, marker))
        case _ => None
      }
    }.sortBy(_.n)

  /** Append one batch (connect frame: key struct, value struct or NULL
   * tombstone, seq) as the next delta version.
   *
   * EXACTLY-ONCE on replay: pass the micro-batch id and the append
   * becomes idempotent — the id commits atomically with its version (a
   * `_batchid-N` marker file inside the renamed dir), and a re-delivered
   * batch whose id is already committed is a no-op. This is the contract
   * `foreachBatch` sinks need: after a crash between sink commit and
   * checkpoint commit, streaming re-runs the last batch, and without the
   * marker the log would hold its rows twice (harmless for
   * last-write-wins reads, but write-amplifying and wrong for any
   * additive consumer). */
  def applyBatch(path: String, batch: DataFrame, keys: Seq[String],
                 batchId: Option[Long] = None,
                 replayable: Boolean = true): Unit = {
    val vs = versionList(path)
    sweepOrphans(path)
    val committedMax = batchId.flatMap(_ => vs.flatMap(_.batchId).maxOption)
    if (batchId.exists(id => committedMax.contains(id))) {
      // `replayable=false` is for SYNCHRONOUS single-writer logs (the
      // registry journal): their own last op is never re-delivered, so
      // an equal id means a concurrent second writer raced past the
      // caller's fence — swallowing it would report success for a
      // mutation that never persisted
      if (!replayable) throw new IllegalStateException(
        s"batch ${batchId.get} already committed under $path and this " +
          "log is declared non-replayable: a second writer committed " +
          "the id first — refusing to silently drop the mutation")
      return // the LAST batch re-delivered after a crash — idempotent no-op
    }
    // foreachBatch ids are monotonic per checkpoint and only the last
    // batch can legally replay: an id BELOW the committed max means a
    // second query is writing this path, or a reset checkpoint
    // restarted ids from 0 — silently discarding those batches would
    // masquerade as replay handling, so fail loudly
    for (id <- batchId; max <- committedMax; if id < max)
      throw new IllegalStateException(
        s"batch $id is behind committed batch $max under $path: only the " +
          "last committed batch can replay — this sink path is being " +
          "written by a query whose checkpoint was reset (or by a second " +
          "query); point it at a fresh sink path or delete the log first")
    val keyed = flatten(batch)
    val delta = MergeSink.lastPerKey(keyed, keys, "_seq")
    val n = vs.lastOption.map(_.n + 1).getOrElse(1)
    commit(path, n, delta, batchId)
  }

  /** Highest committed batch id. foreachBatch ids are monotonic and only
   * the LAST batch can be re-delivered after a crash, so the max alone
   * decides replay — each commit carries at most one marker and
   * compaction folds them to a single max marker on the base, keeping
   * marker count O(versions) forever instead of O(total batches). */
  def maxCommittedBatchId(path: String): Option[Long] =
    versionList(path).flatMap(_.batchId).maxOption

  /** Current table state: merge all versions, newest (version, `_seq`)
   * wins per key, tombstoned keys dropped, the payload as written. One
   * shuffle over the deltas (and the base, if compacted). */
  def read(spark: SparkSession, path: String, keys: Seq[String]): DataFrame = {
    val vs = versionList(path)
    require(vs.nonEmpty, s"no committed versions under $path")
    merge(spark, vs, keys).filter(!col("_tombstone")).drop(Internal: _*)
  }

  /** Fold all versions into one. Tombstone markers are preserved so the
   * compacted base re-merges idempotently with any delta a crash left
   * behind; old versions are deleted only after the new base commits. */
  def compact(spark: SparkSession, path: String, keys: Seq[String]): Unit = {
    val vs = versionList(path)
    if (vs.size <= 1) return
    // _seq and _tombstone ride along unchanged; the folded versions' max
    // batch marker moves onto the compacted base, so replay detection
    // survives compaction
    commit(path, vs.last.n + 1, merge(spark, vs, keys).drop("_v", "_ord"),
      vs.flatMap(_.batchId).maxOption)
    vs.foreach(v => Fs.deleteRecursive(v.dir))
  }

  def versions(path: String): Seq[Int] = versionList(path).map(_.n)

  /** The newest row per key across `vs`, ordered by (version, `_seq`);
   * tombstone markers and the log's own columns are kept. */
  private def merge(spark: SparkSession, vs: Seq[Version],
                    keys: Seq[String]): DataFrame = {
    val all = vs.map { case Version(n, p, _) =>
      spark.read.parquet(p.toString).withColumn("_v", lit(n))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    MergeSink.lastPerKey(
      all.withColumn("_ord", struct(col("_v"), col("_seq"))), keys, "_ord")
  }

  /** Flatten a connect frame to (key fields..., payload..., _tombstone,
   * _seq) rows — tombstones become marker rows carrying only their key.
   * Key columns keep their struct-field names (the names `keys`
   * callers pass); same-named value fields are the key's copy and drop,
   * as do `Internal` names. Every other field, `seq` included, is kept. */
  private def flatten(batch: DataFrame): DataFrame = {
    val (keyNames, keyCols) = batch.schema("key").dataType match {
      case s: org.apache.spark.sql.types.StructType =>
        (s.fieldNames.toSeq, s.fieldNames.toSeq.map(f => col(s"key.$f").as(f)))
      case _ => (Seq("key"), Seq(col("key")))
    }
    val valueFields = batch.schema("value").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq
      .filterNot(f => keyNames.contains(f) || Internal.contains(f))
    batch.select(
      keyCols ++
        valueFields.map(f => col(s"value.$f").as(f)) ++
        Seq(col("value").isNull.as("_tombstone"), col("seq").as("_seq")): _*)
  }

  private def commit(path: String, n: Int, df: DataFrame,
                     batchId: Option[Long]): Unit = {
    Files.createDirectories(Paths.get(path))
    StateDir.publish(Paths.get(path, f".tmp-v$n%08d"),
        Paths.get(path, f"v$n%08d")) { tmp =>
      df.write.mode("overwrite").parquet(tmp.toString)
      // the marker rides inside the dir so the atomic rename commits
      // it with the data; the leading underscore hides it from parquet
      batchId.foreach(id => Files.createFile(tmp.resolve(s"_batchid-$id")))
    }
  }

  /** Remove hidden `.tmp-v*` dirs a crashed writer left behind
   * (invisible to readers — this only reclaims space). Safe because the
   * sink has exactly one writer (L6). */
  private def sweepOrphans(path: String): Unit =
    StateDir.children(Paths.get(path))
      .filter(_.getFileName.toString.startsWith(".tmp-v"))
      .foreach(Fs.deleteRecursive)
}
