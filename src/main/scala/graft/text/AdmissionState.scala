package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Path, Paths}
import graft.state.StateDir

/**
 * The admission-state STORAGE layout of the admission gate
 * ([[graft.pipeline.AdmissionGateCore]] — text artifacts, postings,
 * embeddings, media fingerprints): a `seed/` bootstrap dir plus one
 * `b<id>/` dir per trigger, each holding the same sub-tables (`art`,
 * `sh`, `imgfp`, ... — the gate's axis set decides), beside the frozen
 * `bench/`, `benchm/` and `center` dirs and the `.axes` record.
 *
 * One commit protocol: every dir goes live by ONE
 * [[graft.state.StateDir.publish]] of a hidden stage, so [[parts]]
 * sees a dir whole or not at all.
 *  - The bootstrap stages every table and `.axes` under `.state.tmp`
 *    and publishes `state/` itself: `.axes` present means it published.
 *  - Each trigger stages its sub-tables under `.b<id>.tmp` and
 *    publishes `b<id>`, with the writer-epoch fence as the last-instant
 *    re-check. A replayed id removes its own `b<id>` first; no later
 *    trigger or fold has read it, because its checkpoint never
 *    committed.
 *  - [[fold]] compacts seed + `b<=upTo` into ONE `fold=<upTo>` dir
 *    staged as `.fold=<upTo>.tmp`, the small-files fix
 *    [[graft.ml.IndexStore]] applies to its vector delta log; [[parts]]
 *    resolves the newest fold plus the unfolded tail.
 *
 * Concurrency contract: the [[graft.state.StateDir]] writer lease and
 * checkpoint bind, the same two mechanisms as the vector store:
 *
 *  1. **Epoch fencing** ([[acquireWriter]] / [[fold]] and
 *     `StateDir.fence` at a trigger's head and before its publish): the
 *     admission-writer role is the substrate's writer lease. A
 *     rescheduled job acquires the next epoch; the superseded job's
 *     next fold or publish refuses deterministically with the state
 *     unmoved — a stale job can no longer retire `b<id>` dirs a newer
 *     job's trigger is about to read.
 *  2. **Checkpoint-identity bind** (`StateDir.bindCheckpoint`): the
 *     admission sink binds the stream checkpoint at registration; a
 *     later job pointing a FRESH or foreign checkpoint at the same
 *     `stateDir` refuses at entry — fresh checkpoints restart batch ids
 *     at 0 and would silently overwrite committed `b<id>` state with
 *     different rows.
 *
 * Within one holder, fold still runs in a maintenance window — either
 * the stream is quiesced, or `upTo` is strictly below the stream's
 * frontier batch id (committed ids never replay, so no writer can
 * touch a folded dir; only the FRONTIER id can be rewritten by a
 * crash-replay). Readers racing a fold re-list on a miss, exactly
 * like a vacuum grace. The `writers/` dir and the dot-prefixed stages
 * are invisible to [[parts]] (the names parse as neither `seed`,
 * `b<id>` nor `fold=<k>`).
 */
object AdmissionState {

  private def list(stateDir: String): Seq[Path] =
    StateDir.children(Paths.get(stateDir))

  private def batchId(name: String): Option[Long] =
    StateDir.numberAfter(name, "b")

  private def foldId(name: String): Option[Long] =
    StateDir.numberAfter(name, "fold=")

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
   *
   * Fenced by the writer `epoch`: checked at entry AND re-checked
   * immediately before the atomic publish, so a superseded maintenance
   * pass aborts with the state unmoved (the staged `.tmp` stays
   * invisible to every reader). See the concurrency contract above.
   *
   * `build(sub, read)` returns the compacted frame for `sub`, where
   * `read(s)` concatenates the folded parts' own `s` dirs (the default
   * build is `read(sub)`). It runs while the fold is staged — the hook
   * maintenance rewrites publish through, so a derived table can be
   * REBUILT from sibling state and go live atomically with the fold,
   * e.g. re-capping the containment postings from the folded artifacts
   * ([[Dedup.maintenanceFold]] with `recapMaxDf`). */
  def fold(spark: SparkSession, stateDir: String, upTo: Long,
           subs: Seq[String], epoch: Long,
           build: (String, String => DataFrame) => DataFrame =
             (sub, read) => read(sub)): Boolean = {
    StateDir.fence(stateDir, epoch)
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
      val read = (sub: String) => spark.read.parquet(inputs.map(_ + s"/$sub"): _*)
      StateDir.publish(Paths.get(stateDir, s".fold=$upTo.tmp"),
          Paths.get(stateDir, s"fold=$upTo"),
          () => StateDir.fence(stateDir, epoch)) { t =>
        subs.foreach(sub => build(sub, read).write.parquet(t.resolve(sub).toString))
      }
      entries.collect {
        case ("seed", p) => p
        case (n, p) if batchId(n).exists(_ <= upTo) => p
        case (n, p) if foldId(n).exists(_ < upTo) => p
      }.foreach(graft.util.Fs.deleteRecursive)
      true
    }
  }

  /** Claim the admission-writer role of `stateDir`
   * ([[graft.state.StateDir.acquireWriter]]). */
  def acquireWriter(stateDir: String): Long = StateDir.acquireWriter(stateDir)
}
