package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.{Files, Path, Paths}
import graft.state.StateDir
import graft.util.Fs

/**
 * Storage layout + maintenance for a served ANN index: a VERSIONED BASE
 * (one parquet dir per compaction epoch) beside ONE delta channel, the
 * fenced streaming admission ([[admit]]) that lands each micro-batch in
 * its own `delta/adm=b<id>` dir. Unbounded per-batch deltas are the
 * classic small-files problem at 100 TB, so past a threshold they FOLD
 * into a new base version — the LogTable compaction move applied to the
 * index table. Every writer verb takes the fencing token from
 * [[graft.state.StateDir.acquireWriter]] on the store dir and refuses at
 * entry once a newer holder claimed the role.
 *
 * Isolation contract (what a reader may see, and when):
 *  - An admission or tombstone batch is live only with its parquet
 *    `_SUCCESS`: an in-flight or crashed batch is invisible, so readers
 *    get committed-prefix snapshots.
 *  - A base version is live only once BOTH its `_SUCCESS` and its
 *    `_folded` marker (the batches folded into it) exist. Readers and
 *    verbs resolve ONE snapshot per live version, its PENDING set (the
 *    live batches not in its fold list), so during a compaction a reader
 *    sees (old base + its pending) or (new base + its pending) — never a
 *    row twice, never a torn fold.
 *  - DELETES are merge-on-read (the Delta-Lake/Iceberg shape):
 *    [[tombstone]] appends a `tombs/t=<k>` id batch, `read` anti-joins
 *    the pending ids, and the next fold applies them PHYSICALLY while
 *    recording them in the same atomic `_folded` marker.
 *  - Compaction and cutover run with the WRITER quiesced (the
 *    single-writer rule, L6); superseded versions and folded batches are
 *    retired after the publish, at once or after a grace window.
 */
object IndexStore {

  private def basePath(dir: String): Path = Paths.get(dir, "base")

  /** The admission channel's root: one `adm=b<id>` dir per committed
   * micro-batch of [[admit]]. */
  def deltaDir(dir: String): String =
    Paths.get(dir, "delta").toString

  private def tombsPath(dir: String): Path = Paths.get(dir, "tombs")

  /** Live base versions (ascending): parquet committed (_SUCCESS) AND
   * fold marker present. */
  private def versions(dir: String): Seq[(Int, Path)] =
    StateDir.numbered(basePath(dir), "v=").collect {
      case (v, p) if Files.exists(p.resolve("_SUCCESS")) &&
        Files.exists(p.resolve("_folded")) => v.toInt -> p
    }

  private def newest(dir: String): (Int, Path) = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no live base version under $dir")
    vs.last
  }

  private def writeVersion(df: DataFrame, dir: String, v: Int,
                           folded: Seq[String],
                           preCommit: () => Unit = () => ()): Unit = {
    val target = basePath(dir).resolve(s"v=$v")
    df.write.mode("overwrite").parquet(target.toString)
    // the marker lands AFTER the parquet commit through the staged
    // publish, so a version is visible only with its COMPLETE fold list
    // (a truncated one would serve its missing batches twice); a crash
    // leaves `_folded.tmp`, which no reader looks at, and the retry
    // overwrites the whole dir. `preCommit` runs with the version staged
    // but still INVISIBLE
    StateDir.publish(target.resolve("_folded.tmp"), target.resolve("_folded"),
      preCommit)(Files.write(_, folded.mkString("\n").getBytes("UTF-8")))
  }

  private def foldedNames(v: Path): Set[String] = {
    val f = v.resolve("_folded")
    if (!Files.exists(f)) Set.empty
    else new String(Files.readAllBytes(f), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty).toSet
  }

  private def admMarker(id: Long): String = s"adm=b$id"
  private def tombMarker(k: Long): String = s"tombs/t=$k"

  /** All `adm=b<id>` / `t=<k>` batch dirs present (torn ones included —
   * callers filter liveness; [[tombstone]] needs the full list so a
   * crashed batch's number is never reused). */
  private def admDirsPresent(dir: String): Seq[(Long, Path)] =
    StateDir.numbered(Paths.get(deltaDir(dir)), "adm=b")
  private def tombDirsPresent(dir: String): Seq[(Long, Path)] =
    StateDir.numbered(tombsPath(dir), "t=")

  /** What a live version still has to merge: the committed
   * (`_SUCCESS`-marked) admission and tombstone batches not in its fold
   * list. */
  private case class Pending(adm: Seq[(Long, Path)], tombs: Seq[(Long, Path)]) {
    def size: Int = adm.size + tombs.size
    def markers: Seq[String] =
      adm.map(b => admMarker(b._1)) ++ tombs.map(t => tombMarker(t._1))
  }

  /** The ONE snapshot every reader and verb resolves against `live`.
   * Callers snapshot `versions` once and pass the chosen version here —
   * re-listing per sub-question would let a concurrent compaction serve
   * old base + new fold set (dropping the folded rows). */
  private def pending(dir: String, live: Path): Pending = {
    val folded = foldedNames(live)
    def unfolded(present: Seq[(Long, Path)], marker: Long => String) =
      present.filter { case (k, p) =>
        Files.exists(p.resolve("_SUCCESS")) && !folded(marker(k))
      }
    Pending(unfolded(admDirsPresent(dir), admMarker),
      unfolded(tombDirsPresent(dir), tombMarker))
  }

  private def pendingNow(dir: String): Pending =
    versions(dir).lastOption match {
      // no live base yet (a writer racing ahead of writeBase): nothing
      // is servable, so report no batches rather than throw on the read
      case None => Pending(Nil, Nil)
      case Some((_, p)) => pending(dir, p)
    }

  /** Committed admission batch dirs NOT yet folded into the live base —
   * each one extra per-read merge cost; with the pending tombstone
   * batches, the count `compact` thresholds on. */
  def unfoldedDeltaBatches(dir: String): Seq[String] =
    pendingNow(dir).adm.map(_._2.toString)

  /** Pending tombstone batches the live view still has to anti-join. */
  def unfoldedTombstoneBatches(dir: String): Seq[String] =
    pendingNow(dir).tombs.map(_._2.toString)

  /** Write the initial base (v=0, nothing folded) under a fencing
   * token: a superseded bootstrap job refuses instead of racing the new
   * holder's store creation. Claim the writer role FIRST
   * ([[graft.state.StateDir.acquireWriter]] on the same dir), then
   * bootstrap — the lease and the base land under one root. */
  def writeBase(df: DataFrame, dir: String, epoch: Long): Unit = {
    StateDir.fence(dir, epoch)
    require(versions(dir).isEmpty, s"base already exists under $dir")
    writeVersion(df, dir, 0, Nil)
  }

  /**
   * The EPOCH-FENCED streaming admission entry point — the store's one
   * delta writer. Each micro-batch re-checks the fence ON THE DRIVER
   * immediately before its write, then lands in its own
   * `delta/adm=b<batchId>` dir, live with its parquet `_SUCCESS`; a
   * replayed trigger writes the same dir (idempotent, effectively
   * exactly-once). A superseded writer's NEXT batch refuses with the
   * store unmoved.
   *
   * The checkpoint is part of the store's identity: the first admit
   * binds it ([[graft.state.StateDir.bindCheckpoint]]) and a later admit
   * with a DIFFERENT checkpoint refuses at entry — a fresh checkpoint
   * restarts batch ids at 0 and would silently replace committed
   * batches. A rescheduled holder resumes the SAME checkpoint under its
   * NEW epoch. Returns the started query; callers drive and stop it.
   */
  def admit(encoded: DataFrame, dir: String, checkpoint: String,
            epoch: Long): StreamingQuery = {
    StateDir.fence(dir, epoch)
    StateDir.bindCheckpoint(dir, checkpoint)
    encoded.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        StateDir.fence(dir, epoch)
        // belt-and-suspenders behind the identity bind (a store written
        // before binding existed): an id already in the live fold list
        // would land rows in a vacuum-doomed dir — refuse loudly.
        val folded = versions(dir).lastOption
          .map { case (_, p) => foldedNames(p) }.getOrElse(Set.empty[String])
        require(!folded(admMarker(id)),
          s"admission batch $id was already folded into a base version " +
            s"under $dir: this stream's checkpoint does not belong to " +
            "this store — resume the store's original checkpoint")
        val target = Paths.get(deltaDir(dir), admMarker(id))
        if (Files.exists(target.resolve("_SUCCESS"))) {
          // crash-replay of an already-COMMITTED batch (the checkpoint
          // lost the commit record, the dir didn't): same checkpoint =>
          // same id => same rows, so the dir's content already IS this
          // batch. Rewriting it (overwrite = delete + rewrite) would
          // make the committed batch transiently vanish from a
          // concurrent reader's listing — idempotence by NO-OP instead.
          ()
        } else {
          // target is absent or a torn attempt (no _SUCCESS — invisible
          // to every reader, which filters on the marker): safe to
          // clear and rewrite; the batch goes live atomically with its
          // fresh _SUCCESS
          Fs.deleteRecursive(target)
          batch.write.mode("overwrite").parquet(target.toString)
        }
        ()
      }.start()
  }

  /** Record a batch of deletions (an `id` column) as a live tombstone
   * set, fenced at entry. The batch goes live atomically with its
   * parquet `_SUCCESS`; a crash mid-write leaves a torn dir no reader
   * looks at, and the batch number is never reused (torn dirs and
   * fold-recorded numbers both advance the counter), so the retry just
   * writes the next one. Tombstoning an absent id is a no-op — the verb
   * is idempotent at the row level. */
  def tombstone(dir: String, ids: DataFrame, epoch: Long): Unit = {
    StateDir.fence(dir, epoch)
    val recorded = foldedNames(newest(dir)._2)
      .flatMap(StateDir.numberAfter(_, "tombs/t="))
    val next = (tombDirsPresent(dir).map(_._1) ++ recorded ++ Seq(-1L)).max + 1
    ids.select(col("id"))
      .write.parquet(tombsPath(dir).resolve(s"t=$next").toString)
  }

  /** Live base version numbers, ascending — more than one only during
   * a vacuum-grace window (a [[compact]] with `retainVersions` > 1). */
  def liveVersions(dir: String): Seq[Int] = versions(dir).map(_._1)

  /** The serving view PINNED at a specific live base version — what a
   * reader still holding version `v`'s file list resolves during the
   * vacuum-grace window. During the grace a pinned old reader and a
   * current reader see the SAME rows through different file sets (old
   * base + retained batches vs new physically-merged base). */
  def readAt(spark: SparkSession, dir: String, version: Int): DataFrame = {
    val vs = versions(dir)
    val live = vs.collectFirst { case (v, p) if v == version => p }
    require(live.nonEmpty, s"version $version is not live under $dir " +
      s"(live: ${vs.map(_._1).mkString(", ")})")
    merge(spark, live.get, pending(dir, live.get))
  }

  /** The serving view: (live base version ∪ pending admission batches)
   * − pending tombstone ids, the version listed ONCE. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val live = newest(dir)._2
    merge(spark, live, pending(dir, live))
  }

  /** `live`'s base ∪ `p`'s admission batches − `p`'s tombstone ids: the
   * serving view, and the new base a fold writes. */
  private def merge(spark: SparkSession, live: Path, p: Pending): DataFrame = {
    def load(batches: Seq[(Long, Path)]) =
      spark.read.parquet(batches.map(_._2.toString): _*)
    val base = spark.read.parquet(live.toString)
    val withAdm = if (p.adm.isEmpty) base else base.unionByName(load(p.adm))
    if (p.tombs.isEmpty) withAdm
    else withAdm.join(load(p.tombs).select("id"), Seq("id"), "left_anti")
  }

  /**
   * Fold the pending admission AND tombstone batches into a new base
   * version when their combined count exceeds `maxDeltaFiles` (both
   * are per-read merge cost: a delta is an extra footer+scan, a
   * tombstone batch an extra anti-join side); no-op (false) otherwise.
   * The new base is the union MINUS the tombstoned ids — the physical
   * apply of every merge-on-read delete. Requires the streaming WRITER
   * quiesced; readers stay consistent throughout because the new
   * version only goes live with its fold list, and the folded
   * batches/old version are retired only after that point —
   * immediately with `retainVersions = 1`, or kept through a GRACE
   * WINDOW with `retainVersions > 1` (readers pinned at the old version
   * via [[readAt]] keep resolving their exact pre-fold view; a later
   * [[vacuum]] retires it). A supersession landing mid-fold aborts with
   * the staged version invisible and nothing deleted.
   */
  def compact(spark: SparkSession, dir: String, maxDeltaFiles: Int,
              retainVersions: Int, epoch: Long): Boolean =
    compactCore(spark, dir, maxDeltaFiles, retainVersions, epoch,
      () => StateDir.fence(dir, epoch))

  /** The fold body with an injectable fence RE-CHECK, called at the two
   * points where a superseded writer could still damage the store after
   * the entry check: immediately before the new version's `_folded`
   * marker move (the publish) and immediately before the retire. A
   * throw at the first leaves the store unmoved; at the second, the new
   * version is live and the folded state waits for the next retire.
   * Package-private so the spec can pin both crash points
   * deterministically. */
  private[graft] def compactCore(spark: SparkSession, dir: String,
                                 maxDeltaFiles: Int, retainVersions: Int,
                                 epoch: Long, recheck: () => Unit): Boolean = {
    StateDir.fence(dir, epoch)
    val (pv, pdir) = newest(dir)
    val p = pending(dir, pdir)
    if (p.size <= maxDeltaFiles) false
    else {
      publishFold(dir, pv, pdir, p, merge(spark, pdir, p), retainVersions,
        recheck, recheck)
      true
    }
  }

  /** Publish `df` as the version after (`pv`, `pdir`) with `p` folded,
   * then retire — the ONE commit path of [[compactCore]] and
   * [[cutoverCore]]. The fold list is CUMULATIVE (prior folds' names
   * carry forward), so a batch folded two versions ago never resurfaces
   * as pending and its number is never reused; the retire's deletions
   * trust exactly this composition. `preCommit` runs with the version
   * staged but invisible, `recheck` before the retire. Returns the new
   * version number. */
  private def publishFold(dir: String, pv: Int, pdir: Path, p: Pending,
                          df: DataFrame, retainVersions: Int,
                          preCommit: () => Unit, recheck: () => Unit): Int = {
    writeVersion(df, dir, pv + 1, (foldedNames(pdir) ++ p.markers).toSeq.sorted,
      preCommit)
    recheck()
    retire(dir, retainVersions)
    pv + 1
  }

  /** Retire grace-window state under a fencing token: a superseded
   * maintenance job cannot retire versions/batches the new holder's
   * pinned readers still resolve. */
  def vacuum(dir: String, retainVersions: Int, epoch: Long): Unit = {
    StateDir.fence(dir, epoch)
    retire(dir, retainVersions)
  }

  /**
   * REINDEX cutover — the verb for drift the surgical verbs can't
   * repair: publish `rebuilt` (the serving view rebuilt as a SHADOW
   * under NEW trained constants) as the next base version, its fold list
   * claiming every batch the serving view resolved, so a post-cutover
   * reader sees exactly the rebuilt table while a reader pinned at the
   * old version ([[readAt]]) keeps its pre-cutover view through the
   * grace. Requires the admission writer quiesced, and ENFORCES it: the
   * pre-marker re-check re-resolves the pending snapshot and aborts if
   * it moved — a same-epoch admission stream (every fence passes)
   * committing between the snapshot and the marker move would otherwise
   * union a batch ON TOP of a rebuild that already contains its rows.
   * Returns the new live version number.
   */
  def cutover(dir: String, rebuilt: DataFrame, retainVersions: Int,
              epoch: Long): Int =
    cutoverCore(dir, rebuilt, retainVersions, epoch, () => ())

  /** The cutover body with an injectable hook AFTER the entry
   * snapshot and before the publish — package-private so the spec can
   * land a late commit deterministically and pin the pre-marker
   * quiescence abort. */
  private[graft] def cutoverCore(dir: String, rebuilt: DataFrame,
                                 retainVersions: Int, epoch: Long,
                                 afterSnapshot: () => Unit): Int = {
    StateDir.fence(dir, epoch)
    val (pv, pdir) = newest(dir)
    val p = pending(dir, pdir)
    afterSnapshot()
    publishFold(dir, pv, pdir, p, rebuilt, retainVersions,
      preCommit = () => {
        StateDir.fence(dir, epoch)
        require(pending(dir, pdir) == p,
          s"cutover aborted: commits landed under $dir after the shadow " +
            "rebuild's snapshot (the rebuild cannot contain them; " +
            "publishing would double-serve every row it does) — quiesce " +
            "the admission stream, rebuild, and retry")
      },
      recheck = () => StateDir.fence(dir, epoch))
  }

  /**
   * Retire base versions past the newest `retainVersions`, then every
   * batch folded into the OLDEST retained version — invisible to all
   * retained versions (fold lists are cumulative); batches folded only
   * into newer versions stay for readers pinned at the oldest. Torn
   * tombstone dirs go too. A torn ADMISSION dir goes only when its id is
   * folded ([[admit]] refuses folded ids, so it is a crashed rewrite's
   * corpse); a torn frontier dir stays, an in-flight replay may own it.
   * Idempotent.
   */
  private def retire(dir: String, retainVersions: Int): Unit = {
    require(retainVersions >= 1, s"retainVersions must be >= 1")
    val vs = versions(dir)
    if (vs.nonEmpty) {
      vs.dropRight(retainVersions).foreach { case (_, p) => Fs.deleteRecursive(p) }
      val folded = foldedNames(vs.takeRight(retainVersions).head._2)
      (admDirsPresent(dir).collect { case (id, p) if folded(admMarker(id)) => p } ++
        tombDirsPresent(dir).collect {
          case (k, p) if folded(tombMarker(k)) ||
            !Files.exists(p.resolve("_SUCCESS")) => p
        }).foreach(Fs.deleteRecursive)
    }
  }
}
