package graft.state

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * The durable-state substrate every graft store is a layout over
 * ([[graft.sinks.LogTable]], [[graft.text.AdmissionState]],
 * [[graft.ml.IndexStore]], the watermark store): the one home of the
 * protocol pieces that make keyed, idempotent materialization safe on a
 * shared directory.
 *
 *  - **Staged publish** ([[publish]]): new state is written under a
 *    hidden name no reader resolves, the caller's last-instant re-check
 *    runs while it is still invisible, and ONE atomic rename makes it
 *    live — a crash or a refused re-check leaves the store unmoved.
 *  - **Writer lease** ([[acquireWriter]] / [[fence]]): the writer role is
 *    a mkdir-atomic, monotonically increasing fencing token under
 *    `writers/epoch=<n>` (the Kafka-producer-epoch / lease-epoch design).
 *    A superseded holder is not notified; its next fenced verb refuses.
 *  - **Checkpoint bind** ([[bindCheckpoint]]): the stream checkpoint a
 *    store is written from is part of its identity, recorded as a
 *    `writers/ckpt=<md5>` marker — a fresh or foreign checkpoint
 *    restarts batch ids at 0 and would silently overwrite committed
 *    per-batch state with different rows.
 *  - **Listing** ([[children]] / [[numbered]]): the store layouts' view
 *    of a state dir.
 *
 * The `writers/` dir parses as no store's data name, so it is invisible
 * to every layout's readers.
 */
object StateDir {

  /** The entries of `dir`; empty when it is absent or not a directory. */
  def children(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val listing = Files.list(dir)
      try listing.iterator().asScala.toList finally listing.close()
    }

  /** The number in `name` after `prefix` (`b12` after `b` is 12), if the
   * rest of the name is all digits. */
  def numberAfter(name: String, prefix: String): Option[Long] = {
    val rest = name.stripPrefix(prefix)
    if (name.startsWith(prefix) && rest.nonEmpty && rest.forall(_.isDigit))
      rest.toLongOption else None
  }

  /** The entries of `dir` named `prefix` + a number, ascending by number. */
  def numbered(dir: Path, prefix: String): Seq[(Long, Path)] =
    children(dir).flatMap(p =>
      numberAfter(p.getFileName.toString, prefix).map(_ -> p)).sortBy(_._1)

  /** Staged publish: `stage` writes the new state at `staged` (a hidden
   * sibling of `target` no reader resolves; a crashed attempt's leftover
   * there is removed first), `preCommit` — the caller's last-instant
   * re-check — runs with it fully staged but still invisible, so a throw
   * leaves the store unmoved, and ONE atomic rename publishes it. A file
   * `target` is replaced atomically (POSIX rename); a directory `target`
   * must not exist yet. */
  def publish(staged: Path, target: Path, preCommit: () => Unit = () => ())
             (stage: Path => Unit): Unit = {
    graft.util.Fs.deleteRecursive(staged)
    stage(staged)
    preCommit()
    Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
  }

  // ---- writer lease ---------------------------------------------------------

  private def writers(dir: String): Path = Paths.get(dir, "writers")

  private def currentEpoch(dir: String): Long =
    numbered(writers(dir), "epoch=").lastOption.fold(-1L)(_._1)

  /** Claim the writer role of the store at `dir`, superseding every prior
   * holder: returns a monotonically increasing fencing token. The claim
   * is an atomic `createDirectory` — two racers both computing epoch N
   * collide on the mkdir and the loser retries at N+1, so epochs are
   * never shared. */
  @scala.annotation.tailrec
  def acquireWriter(dir: String): Long = {
    Files.createDirectories(writers(dir))
    val next = currentEpoch(dir) + 1L
    val claimed =
      try { Files.createDirectory(writers(dir).resolve(s"epoch=$next")); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (claimed) next else acquireWriter(dir)
  }

  /** Refuse a verb from a superseded writer. Stores check it at verb
   * entry AND as the `preCommit` of every [[publish]], so a zombie that
   * lost the role mid-verb aborts with the store unmoved; the residual
   * every lease design carries — a supersession landing between the
   * re-check and the atomic rename — is one rename wide, and the
   * zombie's NEXT action fails here deterministically. */
  def fence(dir: String, epoch: Long): Unit = {
    val current = currentEpoch(dir)
    require(current == epoch,
      s"writer fenced: epoch $epoch superseded by $current under $dir")
  }

  // ---- checkpoint bind ------------------------------------------------------

  /** A checkpoint location's CANONICAL IDENTITY string — the value two
   * processes binding the same logical checkpoint must agree on.
   * URI-style locations (`hdfs://nn/path`, `s3a://bucket/path`) are
   * normalized structurally (scheme+authority lowercased, path as
   * given) — resolving them through `File.getCanonicalPath` would
   * anchor them to the process CWD, making the SAME checkpoint hash
   * differently across working directories and permanently refusing a
   * legitimate resume. Bare local paths canonicalize through the
   * filesystem (symlinks, `..`). */
  def checkpointCanon(checkpoint: String): String =
    if (checkpoint.contains("://")) {
      val u = java.net.URI.create(checkpoint).normalize()
      val auth = Option(u.getAuthority).getOrElse("").toLowerCase
      // trailing-slash insensitive (and empty path ≡ root): the same
      // logical checkpoint written as `hdfs://nn/path/` on resume must
      // digest identically to `hdfs://nn/path`, or bindCheckpoint would
      // permanently refuse a legitimate resume — URIs get no filesystem
      // canonicalization, so normalize structurally.
      // MIGRATION (one-time, r16): a ckpt=<md5> marker bound under the
      // PRE-normalization canon of a trailing-slash URI digests
      // differently now and would refuse resume. No such marker can
      // exist here — every state dir in this repo's tests/benches is
      // wiped per run and no durable deployment predates the change —
      // but an operator upgrading a live store must rebind (delete the
      // marker; the next run re-binds under the normalized canon).
      val p = Option(u.getPath).getOrElse("") match {
        case "" => "/"
        case "/" => "/"
        case s if s.endsWith("/") => s.dropRight(1)
        case s => s
      }
      s"${Option(u.getScheme).getOrElse("").toLowerCase}://$auth$p"
    } else new java.io.File(checkpoint).getCanonicalPath

  /** Bind the store at `dir` to `checkpoint`: recorded on the first call
   * as a `writers/ckpt=<md5(canonical identity)>` dir (mkdir-atomic: two
   * racing first binds with different checkpoints cannot both win; the
   * loser withdraws its claim and refuses — if both racers observe each
   * other, both withdraw and both refuse, fail-closed). Every call
   * thereafter must present the same checkpoint; a different one
   * refuses HERE, before any batch can overwrite committed per-batch
   * state with different rows. */
  def bindCheckpoint(dir: String, checkpoint: String): Unit = {
    Files.createDirectories(writers(dir))
    val canon = checkpointCanon(checkpoint)
    val mine = "ckpt=" + java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def bound: Seq[String] = children(writers(dir))
      .map(_.getFileName.toString).filter(_.startsWith("ckpt=")).sorted
    if (!bound.contains(mine)) {
      require(bound.isEmpty,
        s"state $dir is bound to a different admission checkpoint " +
          s"(${bound.mkString(", ")}): a fresh checkpoint would restart " +
          "batch ids and overwrite committed state — resume the " +
          "state's original checkpoint")
      try Files.createDirectory(writers(dir).resolve(mine))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      val now = bound
      if (now != Seq(mine)) {
        Files.deleteIfExists(writers(dir).resolve(mine))
        require(false, s"state $dir was concurrently bound to a " +
          s"different admission checkpoint (${now.mkString(", ")})")
      }
      // informative: the canonical identity behind the digest
      Files.write(writers(dir).resolve(mine).resolve("path"),
        canon.getBytes("UTF-8"))
    }
  }
}
