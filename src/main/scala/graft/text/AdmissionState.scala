package graft.text

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * The admission-state STORAGE layout of the admission gate
 * ([[graft.pipeline.AdmissionGateCore]] — text artifacts, postings,
 * embeddings, media fingerprints): a `seed/` bootstrap dir plus one
 * `b<id>/` dir per admitted batch, each holding the same sub-tables
 * (`art`, `sh`, `imgfp`, ... — the gate's axis set decides). Growing one dir per trigger is correct but accumulates
 * small files: at production trigger counts every trigger's state read
 * pays a listing + a parquet footer per historical batch — the classic
 * small-files problem, the same one [[graft.ml.IndexStore]] folds away
 * for the vector delta log. [[fold]] is that compaction verb applied
 * here: seed + `b<=upTo` collapse into ONE `fold=<upTo>` dir (staged
 * dot-prefixed, published by a single atomic rename — a crash leaves
 * an invisible `.tmp`), and [[parts]] resolves the newest fold plus
 * the unfolded tail.
 *
 * Concurrency contract (the [[graft.ml.IndexStore.compact]] shape),
 * ENFORCED by the same two mechanisms as the vector store:
 *
 *  1. **Epoch fencing** ([[acquireWriter]] / the fenced [[fold]] and
 *     [[guard]]): the admission-writer role is a mkdir-atomic
 *     monotonically-increasing lease under `writers/epoch=<n>`. A
 *     rescheduled job acquires the next epoch; the superseded job's
 *     next fold or state append refuses deterministically with the
 *     state unmoved — a stale job can no longer retire `b<id>` dirs a
 *     newer job's trigger is about to read.
 *  2. **Checkpoint-identity bind** ([[bindCheckpoint]]): the first
 *     append records the stream checkpoint's canonical identity as a
 *     `writers/ckpt=<digest>` marker; a later job pointing a FRESH or
 *     foreign checkpoint at the same `stateDir` refuses at entry —
 *     fresh checkpoints restart batch ids at 0 and would silently
 *     overwrite committed `b<id>` state with different rows.
 *
 * Within one holder, fold still runs in a maintenance window — either
 * the stream is quiesced, or `upTo` is strictly below the stream's
 * frontier batch id (committed ids never replay, so no writer can
 * touch a folded dir; only the FRONTIER id can be rewritten by a
 * crash-replay). Readers racing a fold re-list on a miss, exactly
 * like a vacuum grace. The `writers/` dir is invisible to [[parts]]
 * (the name parses as neither `seed`, `b<id>` nor `fold=<k>`).
 */
object AdmissionState {

  private def list(stateDir: String): Seq[Path] = {
    val d = Paths.get(stateDir)
    if (!Files.isDirectory(d)) Nil
    else {
      val listing = Files.list(d)
      try listing.iterator().asScala.toList finally listing.close()
    }
  }

  private def batchId(name: String): Option[Long] =
    if (name.startsWith("b") && name.drop(1).forall(_.isDigit))
      Some(name.drop(1).toLong) else None

  private def foldId(name: String): Option[Long] =
    if (name.startsWith("fold=")) Some(name.stripPrefix("fold=").toLong)
    else None

  /** The newest committed fold dir, if any — a RESUMED gate re-derives
   * its grown dials (the semantic plane count) from this dir's row
   * counts: dial growth happens only at folds, so the newest fold pins
   * exactly the dial the folding trigger chose. */
  def newestFold(stateDir: String): Option[String] =
    list(stateDir).map(p => p.getFileName.toString -> p)
      .flatMap { case (n, p) => foldId(n).map(_ -> p) }
      .sortBy(_._1).lastOption.map(_._2.toString)

  /** The state part dirs a trigger with batch id `belowId` reads: the
   * newest committed fold strictly below `belowId` (which covers seed
   * and every `b<=foldId`), plus `seed`/`b<id>` dirs above that fold
   * horizon and strictly below `belowId`. Strictly-below keeps the
   * replay discipline: a crashed attempt's own leftovers are never
   * its replay's reference. */
  def parts(stateDir: String, belowId: Long): Seq[String] = {
    val entries = list(stateDir).map(p => p.getFileName.toString -> p)
    val fold = entries.flatMap { case (n, p) =>
      foldId(n).filter(_ < belowId).map(_ -> p)
    }.sortBy(_._1).lastOption
    val horizon = fold.map(_._1).getOrElse(-1L)
    val tail = entries.collect {
      case (n, p) if batchId(n).exists(id => id > horizon && id < belowId) =>
        (batchId(n).get, p)
    }.sortBy(_._1).map(_._2)
    val seed = if (fold.isEmpty)
      entries.collect { case ("seed", p) => p } else Nil
    (fold.map(_._2).toSeq ++ seed ++ tail).map(_.toString)
  }

  /** Fold `seed` + every `b<=upTo` into `fold=<upTo>` — one compacted
   * dir per sub-table, staged under a dot-prefixed temp and published
   * by ONE atomic rename; the folded inputs (and any older fold) are
   * deleted after the publish. No-op when nothing new would fold.
   * SELF-HEALING: the post-publish retire pass deletes EVERY dir the
   * new fold supersedes — seed, all `b<=upTo`, all older folds — not
   * just the ones this call folded, so a prior crash between publish
   * and retire (which leaks superseded dirs; `parts` excludes them,
   * so correctness was never affected) is cleaned by the next fold.
   * Unfenced form is package-private (a zombie must not bypass the
   * fence); production callers use the epoch overload. See the
   * concurrency contract above. */
  private[graft] def fold(spark: SparkSession, stateDir: String, upTo: Long,
                          subs: Seq[String],
                          preCommit: () => Unit = () => (),
                          build: (String, Seq[String]) => org.apache.spark.sql.DataFrame = null): Boolean = {
    val entries = list(stateDir).map(p => p.getFileName.toString -> p)
    val horizon = entries.flatMap { case (n, _) => foldId(n) }
      .foldLeft(-1L)(math.max)
    require(upTo > horizon,
      s"fold upTo=$upTo is not above the current fold horizon $horizon")
    // a fold PAST the newest batch would publish as fold=<upTo> yet be
    // invisible to parts(belowId) for every belowId <= upTo — with seed
    // already retired, those readers would resolve nothing: refuse
    val maxBatch = entries.flatMap { case (n, _) => batchId(n) }
      .foldLeft(-1L)(math.max)
    require(upTo <= maxBatch,
      s"fold upTo=$upTo exceeds the newest state batch $maxBatch")
    val inputs = parts(stateDir, upTo + 1)
    if (inputs.isEmpty) false
    else {
      val tmp = Paths.get(stateDir, s".fold=$upTo.tmp")
      graft.util.Fs.deleteRecursive(tmp)
      val mk: (String, Seq[String]) => org.apache.spark.sql.DataFrame =
        if (build != null) build
        else (sub, parts) => spark.read.parquet(parts.map(_ + s"/$sub"): _*)
      subs.foreach { sub =>
        mk(sub, inputs).write.parquet(tmp.resolve(sub).toString)
      }
      // last-instant re-check with the fold fully staged but still
      // INVISIBLE (dot-prefixed): a throw here aborts with the state
      // unmoved — the zombie window is the one rename below
      preCommit()
      Files.move(tmp, Paths.get(stateDir, s"fold=$upTo"),
        StandardCopyOption.ATOMIC_MOVE)
      entries.collect {
        case ("seed", p) => p
        case (n, p) if batchId(n).exists(_ <= upTo) => p
        case (n, p) if foldId(n).exists(_ < upTo) => p
      }.foreach(graft.util.Fs.deleteRecursive)
      true
    }
  }

  /** [[fold]] under a fencing token: checked at entry AND re-checked
   * immediately before the atomic publish, so a superseded maintenance
   * pass aborts with the state unmoved (the staged `.tmp` stays
   * invisible to every reader). */
  def fold(spark: SparkSession, stateDir: String, upTo: Long,
           subs: Seq[String], epoch: Long): Boolean = {
    fence(stateDir, epoch)
    fold(spark, stateDir, upTo, subs, () => fence(stateDir, epoch))
  }

  /** Fenced [[fold]] with a per-sub-table BUILD override — the hook
   * maintenance rewrites publish through: `build(sub, partDirs)`
   * returns the compacted frame for `sub` (default: concatenate the
   * parts' own `sub` dirs), so a derived table can be REBUILT from
   * sibling state during the fold and go live atomically with it —
   * e.g. re-capping the containment posting table from the folded
   * artifacts ([[Dedup.foldWithRecappedPostings]]). */
  def fold(spark: SparkSession, stateDir: String, upTo: Long,
           subs: Seq[String], epoch: Long,
           build: (String, Seq[String]) => org.apache.spark.sql.DataFrame): Boolean = {
    fence(stateDir, epoch)
    fold(spark, stateDir, upTo, subs, () => fence(stateDir, epoch), build)
  }

  // ---- writer fencing (the IndexStore discipline) --------------------------

  private def writersPath(stateDir: String): Path =
    Paths.get(stateDir, "writers")

  private def epochsPresent(stateDir: String): Seq[Long] =
    if (!Files.isDirectory(writersPath(stateDir))) Nil
    else {
      val listing = Files.list(writersPath(stateDir))
      val entries = try listing.iterator().asScala.toList finally listing.close()
      entries.map(_.getFileName.toString)
        .filter(_.startsWith("epoch="))
        .map(_.stripPrefix("epoch=").toLong)
        .sorted
    }

  /** Claim the admission-writer role, superseding every prior holder:
   * a monotonically increasing fencing token via mkdir-atomic claim
   * (two racers computing the same epoch collide on the mkdir; the
   * loser retries at n+1, so epochs are never shared). The superseded
   * holder discovers it is a ZOMBIE when its next fenced verb
   * ([[guard]] before a state append, the fenced [[fold]]) refuses. */
  @scala.annotation.tailrec
  def acquireWriter(stateDir: String): Long = {
    Files.createDirectories(writersPath(stateDir))
    val next = epochsPresent(stateDir).lastOption.getOrElse(-1L) + 1L
    val claimed =
      try { Files.createDirectory(writersPath(stateDir).resolve(s"epoch=$next")); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (claimed) next else acquireWriter(stateDir)
  }

  private def fence(stateDir: String, epoch: Long): Unit = {
    val current = epochsPresent(stateDir).lastOption.getOrElse(-1L)
    require(current == epoch,
      s"admission writer fenced: epoch $epoch superseded by $current " +
        s"under $stateDir")
  }

  /** The per-trigger append guard: re-checks the fence on the driver
   * immediately before a trigger writes its `b<id>` state dirs, so a
   * superseded admission job's next append refuses with the state
   * unmoved instead of interleaving with the new holder's triggers. */
  def guard(stateDir: String, epoch: Long): Unit = fence(stateDir, epoch)

  /** The store-side CHECKPOINT IDENTITY bind (the
   * [[graft.ml.IndexStore]] shape): recorded on the first append as a
   * `writers/ckpt=<digest>` dir (mkdir-atomic — two racing first binds
   * with different checkpoints cannot both win; the loser withdraws
   * and refuses). Every append thereafter must present the same
   * checkpoint: a fresh or foreign checkpoint restarts batch ids at 0
   * and would silently overwrite committed `b<id>` state with
   * different rows. Identity is URI-aware ([[graft.util.Fs
   * .checkpointCanon]]) so `hdfs://`/`s3a://` locations don't resolve
   * against the process CWD. */
  def bindCheckpoint(stateDir: String, checkpoint: String): Unit = {
    Files.createDirectories(writersPath(stateDir))
    val mine = "ckpt=" + graft.util.Fs.checkpointDigest(checkpoint)
    def bound: Seq[String] = {
      val listing = Files.list(writersPath(stateDir))
      try listing.iterator().asScala.toList.map(_.getFileName.toString)
        .filter(_.startsWith("ckpt=")).sorted
      finally listing.close()
    }
    if (!bound.contains(mine)) {
      require(bound.isEmpty,
        s"admission state $stateDir is bound to a different stream " +
          s"checkpoint (${bound.mkString(", ")}): a fresh checkpoint " +
          "would restart batch ids and overwrite committed state — " +
          "resume the state's original checkpoint")
      try Files.createDirectory(writersPath(stateDir).resolve(mine))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      val now = bound
      if (now != Seq(mine)) {
        Files.deleteIfExists(writersPath(stateDir).resolve(mine))
        require(false, s"admission state $stateDir was concurrently " +
          s"bound to a different checkpoint (${now.mkString(", ")})")
      }
      Files.write(writersPath(stateDir).resolve(mine).resolve("path"),
        graft.util.Fs.checkpointCanon(checkpoint).getBytes("UTF-8"))
    }
  }
}
