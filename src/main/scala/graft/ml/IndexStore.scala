package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * Storage layout + maintenance for a served ANN index: a VERSIONED BASE
 * (one parquet dir per compaction epoch) beside a streaming DELTA dir
 * appended through Structured Streaming's file-sink commit protocol.
 * This is the piece that turns e16's "append one delta per micro-batch
 * forever" into a production layout — at 100 TB unbounded deltas are
 * the classic small-files problem (every search pays a file-listing +
 * footer read per delta), so past a threshold the deltas FOLD into a
 * new base version, exactly the LogTable auto-compaction move applied
 * to the index table.
 *
 * Isolation contract (what a reader may see, and when):
 *  - The delta dir is only ever read THROUGH its `_spark_metadata` sink
 *    log, so an in-flight or crashed micro-batch's data files are
 *    invisible until their batch commits — readers get committed-prefix
 *    snapshots for free from the sink protocol (`IndexStoreSpec` plants
 *    a torn file and pins this). The FENCED admission channel
 *    ([[admit]]) gives the same guarantee from per-batch `adm=b<k>`
 *    dirs live only with their parquet `_SUCCESS`, plus an epoch check
 *    before every batch's write.
 *  - A base version is live only once BOTH its parquet `_SUCCESS` and
 *    its `_folded` marker (the list of delta files folded into it)
 *    exist; `read` subtracts the live version's folded files from the
 *    committed delta, so during a compaction a reader sees either
 *    (old base + delta) or (new base + delta − folded) — never a row
 *    twice, never a torn fold.
 *  - DELETES are merge-on-read: [[tombstone]] logs a batch of ids as a
 *    `tombs/t=<k>` parquet dir (live once its `_SUCCESS` exists — the
 *    same commit-marker protocol as everything else here), `read`
 *    anti-joins the live unfolded tombstone ids out of the view, and
 *    compaction applies them PHYSICALLY (the new base contains no
 *    tombstoned row) while recording them in the same atomic `_folded`
 *    marker (namespaced `tombs/t=k` lines — delta file names never
 *    contain '/'). This is the Delta-Lake/Iceberg merge-on-read shape:
 *    at 100 TB a delete must not rewrite the base synchronously; it
 *    costs one id-list append now and its rewrite rides the next fold.
 *  - Compaction runs in the maintenance role with the WRITER quiesced
 *    (the same single-writer constraint as every lifecycle verb — L6);
 *    old-version/folded-file deletion is immediate here, where a
 *    production deployment would keep a vacuum grace period for
 *    readers still holding the old file list.
 */
object IndexStore {

  private def basePath(dir: String): Path = Paths.get(dir, "base")

  /** The streaming-sink target: point `writeStream.option("path", ...)`
   * here with a checkpoint — the sink's `_spark_metadata` IS the
   * commit log `read` trusts. */
  def deltaDir(dir: String): String =
    Paths.get(dir, "delta").toString

  /** Live base versions (ascending): parquet committed (_SUCCESS) AND
   * fold marker present. */
  private def versions(dir: String): Seq[(Int, Path)] =
    if (!Files.isDirectory(basePath(dir))) Nil
    else {
      val listing = Files.list(basePath(dir))
      val entries = try listing.iterator().asScala.toList finally listing.close()
      entries
        .filter(_.getFileName.toString.startsWith("v="))
        .map(p => p.getFileName.toString.stripPrefix("v=").toInt -> p)
        .filter { case (_, p) =>
          Files.exists(p.resolve("_SUCCESS")) && Files.exists(p.resolve("_folded"))
        }
        .sortBy(_._1)
    }

  private def writeVersion(df: DataFrame, dir: String, v: Int,
                           folded: Seq[String],
                           preCommit: () => Unit = () => ()): Path = {
    val target = basePath(dir).resolve(s"v=$v")
    df.write.mode("overwrite").parquet(target.toString)
    // the marker lands AFTER the parquet commit, and ATOMICALLY: a bare
    // write could crash mid-way and leave a TRUNCATED fold list beside a
    // committed _SUCCESS — a live version whose missing names count as
    // "unfolded" and get served twice (once from the delta file, once
    // merged into the base). Staging to a tmp name and renaming means
    // the version becomes visible to `versions` only with its COMPLETE
    // fold list in place; a crash leaves `_folded.tmp`, which no reader
    // looks at, and the retried compaction overwrites the whole dir.
    val tmp = target.resolve("_folded.tmp")
    Files.write(tmp, folded.mkString("\n").getBytes("UTF-8"))
    // `preCommit` is the fenced verbs' last-instant re-check: it runs
    // with the new version fully staged but still INVISIBLE (no
    // `_folded`), so a throw here aborts the fold with the store
    // unmoved — the zombie window really is the one rename below
    preCommit()
    Files.move(tmp, target.resolve("_folded"), StandardCopyOption.ATOMIC_MOVE)
    target
  }

  /** Write the initial base (v=0, nothing folded). The target `dir`
   * must be fresh. Unfenced bootstrap — package-private so a library
   * consumer cannot bypass the fence; production callers use the
   * epoch overload. */
  private[graft] def writeBase(df: DataFrame, dir: String): Unit = {
    require(versions(dir).isEmpty, s"base already exists under $dir")
    writeVersion(df, dir, 0, Nil)
  }

  /** [[writeBase]] under a fencing token: a superseded bootstrap job
   * refuses instead of racing the new holder's store creation. Claim
   * the writer role FIRST ([[acquireWriter]] on the same dir), then
   * bootstrap — the epoch dir and the base land under one root. */
  def writeBase(df: DataFrame, dir: String, epoch: Long): Unit = {
    fence(dir, epoch)
    writeBase(df, dir)
  }

  /** Committed delta data files (absolute URIs) per the sink log, with
   * the schema taken from the SNAPSHOTTED live version `live` — both so
   * schema inference doesn't open deleted files' footers (only the log
   * remembers folded files) and so a compaction committing between
   * listings can't mix an old base with a new version's fold set. */
  private def committedDeltaFiles(spark: SparkSession, dir: String,
                                  live: Path): Seq[String] = {
    val d = Paths.get(deltaDir(dir))
    if (!Files.isDirectory(d.resolve("_spark_metadata"))) Nil
    else {
      val sch = spark.read.parquet(live.toString).schema
      spark.read.schema(sch).parquet(deltaDir(dir)).inputFiles.toSeq.sorted
    }
  }

  private def fileName(uri: String): String =
    uri.substring(uri.lastIndexOf('/') + 1)

  private def foldedNames(v: Path): Set[String] = {
    val f = v.resolve("_folded")
    if (!Files.exists(f)) Set.empty
    else new String(Files.readAllBytes(f), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty).toSet
  }

  /** Delta files not folded into the GIVEN live version. All callers
   * snapshot `versions` exactly once and pass the chosen version here —
   * re-listing per sub-question would let a concurrent compaction serve
   * old base + new fold set (dropping the folded rows). */
  private def unfoldedFrom(spark: SparkSession, dir: String,
                           live: Path): Seq[String] = {
    val folded = foldedNames(live)
    committedDeltaFiles(spark, dir, live).filterNot(f => folded(fileName(f)))
  }

  /** Committed delta units NOT yet folded into the live base — sink-log
   * data files plus fenced-admission batch dirs, each one extra
   * per-read merge cost; the count `compact` thresholds on. */
  def unfoldedDeltaFiles(spark: SparkSession, dir: String): Seq[String] =
    versions(dir).lastOption match {
      // no live base yet (a writer racing ahead of writeBase): nothing
      // is servable, so report no deltas rather than throw on the read
      case None => Nil
      case Some((_, p)) =>
        unfoldedFrom(spark, dir, p) ++ unfoldedAdm(dir, p).map(_.toString)
    }

  // ---- fenced streaming admission (the delta writer role) -----------------

  private def admMarker(id: Long): String = s"adm=b$id"

  /** All `adm=b<id>` batch dirs present under the delta root (torn ones
   * included — callers filter liveness). */
  private def admDirsPresent(dir: String): Seq[(Long, Path)] = {
    val d = Paths.get(deltaDir(dir))
    if (!Files.isDirectory(d)) Nil
    else {
      val listing = Files.list(d)
      val entries = try listing.iterator().asScala.toList finally listing.close()
      entries
        .filter(_.getFileName.toString.startsWith("adm=b"))
        .map(p => p.getFileName.toString.stripPrefix("adm=b").toLong -> p)
        .sortBy(_._1)
    }
  }

  /** Live (committed, `_SUCCESS`-marked) admission batches not folded
   * into the GIVEN version. */
  private def unfoldedAdm(dir: String, live: Path): Seq[Path] = {
    val folded = foldedNames(live)
    admDirsPresent(dir).collect {
      case (id, p) if Files.exists(p.resolve("_SUCCESS")) &&
        !folded(admMarker(id)) => p
    }
  }

  /**
   * The EPOCH-FENCED streaming admission entry point — the delta
   * writer role under the same fencing tokens as [[compact]] and
   * [[tombstone]]. Each micro-batch re-checks the fence ON THE DRIVER
   * immediately before its write, then lands in its own
   * `delta/adm=b<batchId>` dir with overwrite — a replayed trigger
   * after a crash rewrites the same dir (idempotent, effectively
   * exactly-once), and the batch goes live atomically with its parquet
   * `_SUCCESS`, so readers get committed-prefix snapshots exactly as
   * they do from the sink-log channel. A superseded writer's NEXT
   * batch refuses here with the store unmoved — the rescheduled-
   * admission-job race (two jobs with different checkpoints
   * interleaving one delta log) this fence exists for.
   *
   * The checkpoint is part of the store's identity, ENFORCED: the
   * first admit records the checkpoint's canonical path as a
   * `writers/ckpt=<digest>` marker (mkdir-atomic, like the epoch
   * claim), and every later admit refuses a DIFFERENT checkpoint —
   * a fresh/foreign checkpoint restarts batch ids at 0 and would
   * silently replace committed batches with different rows (the
   * two-checkpoints-one-log race). A rescheduled holder resumes the
   * SAME checkpoint under its NEW epoch (standard Structured
   * Streaming restart + the Kafka producer-epoch bump), so batch
   * numbering continues and a committed batch never replays with
   * different data. Returns the started query; callers drive it
   * (`processAllAvailable`/`awaitTermination`) and stop it.
   */
  def admit(encoded: DataFrame, dir: String, checkpoint: String,
            epoch: Long): StreamingQuery = {
    fence(dir, epoch)
    bindCheckpoint(dir, checkpoint)
    encoded.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        fence(dir, epoch)
        // belt-and-suspenders behind the identity bind (a store written
        // before binding existed): an id already in the live fold list
        // would land rows in a vacuum-doomed dir — refuse loudly.
        val folded = versions(dir).lastOption
          .map { case (_, p) => foldedNames(p) }.getOrElse(Set.empty[String])
        require(!folded(admMarker(id)),
          s"admission batch $id was already folded into a base version " +
            s"under $dir: this stream's checkpoint does not belong to " +
            "this store — resume the store's original checkpoint")
        val target = Paths.get(deltaDir(dir), s"adm=b$id")
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
          graft.util.Fs.deleteRecursive(target)
          batch.write.mode("overwrite").parquet(target.toString)
        }
        ()
      }.start()
  }

  /** The store-side CHECKPOINT IDENTITY — recorded on the first admit
   * as a `writers/ckpt=<md5(canonical path)>` dir (mkdir-atomic: two
   * racing first admits with different checkpoints cannot both bind;
   * the loser removes its claim and refuses). Every admit thereafter
   * must present the same checkpoint — a fresh or foreign checkpoint
   * refuses HERE, at entry, before any batch can overwrite committed
   * `adm=b<id>` dirs with different rows. */
  private def bindCheckpoint(dir: String, checkpoint: String): Unit = {
    Files.createDirectories(writersPath(dir))
    // URI-aware identity (graft.util.Fs.checkpointCanon): an
    // `hdfs://`/`s3a://` location normalizes structurally instead of
    // resolving against the process CWD — the same logical checkpoint
    // binds identically across working directories
    val canon = graft.util.Fs.checkpointCanon(checkpoint)
    val mine = "ckpt=" + graft.util.Fs.checkpointDigest(checkpoint)
    def bound: Seq[String] = {
      val listing = Files.list(writersPath(dir))
      try listing.iterator().asScala.toList.map(_.getFileName.toString)
        .filter(_.startsWith("ckpt=")).sorted
      finally listing.close()
    }
    if (!bound.contains(mine)) {
      require(bound.isEmpty,
        s"store $dir is bound to a different admission checkpoint " +
          s"(${bound.mkString(", ")}): a fresh checkpoint would restart " +
          "batch ids and replace committed admission batches — resume " +
          "the store's original checkpoint")
      try Files.createDirectory(writersPath(dir).resolve(mine))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      val now = bound
      if (now != Seq(mine)) {
        // a first-bind race against a DIFFERENT checkpoint: withdraw
        // our claim and refuse. (If both racers observe each other,
        // both withdraw and both refuse — fail-closed; the next admit
        // binds a now-empty store cleanly. Two concurrent first admits
        // with different checkpoints is already a deployment error.)
        Files.deleteIfExists(writersPath(dir).resolve(mine))
        require(false, s"store $dir was concurrently bound to a " +
          s"different admission checkpoint (${now.mkString(", ")})")
      }
      // informative: the canonical path behind the digest (best-effort)
      Files.write(writersPath(dir).resolve(mine).resolve("path"),
        canon.getBytes("UTF-8"))
    }
  }

  // ---- tombstones (merge-on-read deletes) --------------------------------

  private def tombsPath(dir: String): Path = Paths.get(dir, "tombs")

  /** All `t=<k>` batch dirs present on disk (torn ones included —
   * callers filter liveness themselves; [[tombstone]] needs the full
   * list so a crashed batch's number is never reused). */
  private def tombDirsPresent(dir: String): Seq[(Int, Path)] =
    if (!Files.isDirectory(tombsPath(dir))) Nil
    else {
      val listing = Files.list(tombsPath(dir))
      val entries = try listing.iterator().asScala.toList finally listing.close()
      entries
        .filter(_.getFileName.toString.startsWith("t="))
        .map(p => p.getFileName.toString.stripPrefix("t=").toInt -> p)
        .sortBy(_._1)
    }

  private def tombMarker(k: Int): String = s"tombs/t=$k"

  /** Live (committed, `_SUCCESS`-marked) tombstone batches not folded
   * into the GIVEN version. */
  private def unfoldedTombs(dir: String, live: Path): Seq[Path] = {
    val folded = foldedNames(live)
    tombDirsPresent(dir).collect {
      case (k, p) if Files.exists(p.resolve("_SUCCESS")) &&
        !folded(tombMarker(k)) => p
    }
  }

  /** Pending tombstone batches the live view still has to anti-join —
   * counts toward `compact`'s per-read merge-cost threshold. */
  def unfoldedTombstoneBatches(spark: SparkSession, dir: String): Seq[String] =
    versions(dir).lastOption match {
      case None => Nil
      case Some((_, p)) => unfoldedTombs(dir, p).map(_.toString)
    }

  /** Record a batch of deletions (an `id` column) as a live tombstone
   * set. Writer-role call (single-writer with admission and
   * compaction). The batch goes live atomically with its parquet
   * `_SUCCESS`; a crash mid-write leaves a torn dir no reader looks at,
   * and the batch number is never reused (torn dirs and fold-recorded
   * numbers both advance the counter), so the retry just writes the
   * next one. Tombstoning an absent id is a no-op — the verb is
   * idempotent at the row level. Unfenced form is package-private (a
   * zombie must not bypass the fence by calling the old surface);
   * production callers use the epoch overload. */
  private[graft] def tombstone(spark: SparkSession, dir: String,
                               ids: DataFrame): Unit = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no live base version under $dir")
    val present = tombDirsPresent(dir).map(_._1)
    val recorded = foldedNames(vs.last._2)
      .filter(_.startsWith("tombs/t="))
      .map(_.stripPrefix("tombs/t=").toInt)
    val next = (present ++ recorded ++ Seq(-1)).max + 1
    ids.select(col("id"))
      .write.parquet(tombsPath(dir).resolve(s"t=$next").toString)
  }

  /** Live base version numbers, ascending — more than one only during
   * a vacuum-grace window (a [[compact]] with `retainVersions` > 1). */
  def liveVersions(dir: String): Seq[Int] = versions(dir).map(_._1)

  /** The serving view PINNED at a specific live base version — what a
   * reader still holding version `v`'s file list resolves during the
   * vacuum-grace window. Version v's view is v's base plus every
   * committed delta/tombstone NOT in v's fold list, so during the
   * grace a pinned old reader and a current reader see the SAME rows
   * through different file sets (old base + retained folded files vs
   * new physically-merged base) — the gate/spec-checkable form of the
   * isolation contract's "never a row twice, never a torn fold". */
  def readAt(spark: SparkSession, dir: String, version: Int): DataFrame = {
    val vs = versions(dir)
    val live = vs.collectFirst { case (v, p) if v == version => p }
    require(live.nonEmpty, s"version $version is not live under $dir " +
      s"(live: ${vs.map(_._1).mkString(", ")})")
    readFrom(spark, dir, live.get)
  }

  /** The serving view: (live base version ∪ committed-but-unfolded
   * delta files) − live unfolded tombstone ids. The version list is
   * listed ONCE; the same version supplies the base read, the fold
   * set, the delta schema and the tombstone subtraction. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no live base version under $dir")
    readFrom(spark, dir, vs.last._2)
  }

  private def readFrom(spark: SparkSession, dir: String,
                       live: Path): DataFrame = {
    val base = spark.read.parquet(live.toString)
    val withDelta = unfoldedFrom(spark, dir, live) match {
      case Seq() => base
      case files => base.unionByName(spark.read.parquet(files: _*))
    }
    val withAdm = unfoldedAdm(dir, live) match {
      case Seq() => withDelta
      case dirs => withDelta.unionByName(
        spark.read.parquet(dirs.map(_.toString): _*))
    }
    unfoldedTombs(dir, live) match {
      case Seq() => withAdm
      case tombs => withAdm.join(
        spark.read.parquet(tombs.map(_.toString): _*).select("id"),
        Seq("id"), "left_anti")
    }
  }

  /**
   * Fold the committed deltas AND pending tombstones into a new base
   * version when their combined count exceeds `maxDeltaFiles` (both
   * are per-read merge cost: a delta is an extra footer+scan, a
   * tombstone batch an extra anti-join side); no-op (false) otherwise.
   * The new base is the union MINUS the tombstoned ids — the physical
   * apply of every merge-on-read delete. Requires the streaming WRITER
   * quiesced (see the isolation contract above); readers stay
   * consistent throughout because the new version only goes live with
   * its fold list, and the folded files/batches/old version are
   * retired only after that point — immediately with the default
   * `retainVersions = 1`, or kept through a GRACE WINDOW with
   * `retainVersions > 1` (readers pinned at the old version via
   * [[readAt]] keep resolving their exact pre-fold view; a later
   * [[vacuum]] retires it).
   */
  private[graft] def compact(spark: SparkSession, dir: String,
                             maxDeltaFiles: Int,
                             retainVersions: Int = 1): Boolean =
    compactCore(spark, dir, maxDeltaFiles, retainVersions, () => ())

  /** The fold body with an injectable fence RE-CHECK, called at the
   * two points where a superseded writer could still damage the store
   * after the entry check: immediately before the new version's
   * `_folded` marker move (the publish) and immediately before the
   * vacuum's deletions. A throw at either point leaves the store
   * unmoved (the staged version has no marker; nothing was deleted).
   * Package-private so the spec can pin the mid-fold abort
   * deterministically. */
  private[graft] def compactCore(spark: SparkSession, dir: String,
                                 maxDeltaFiles: Int, retainVersions: Int,
                                 recheck: () => Unit): Boolean = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no live base version under $dir")
    val (pv, pdir) = vs.last
    val pending = unfoldedFrom(spark, dir, pdir)
    val admB = unfoldedAdm(dir, pdir)
    val tombs = unfoldedTombs(dir, pdir)
    if (pending.size + admB.size + tombs.size <= maxDeltaFiles) false
    else {
      val deltaSrcs = pending ++ admB.map(_.toString)
      val unioned =
        if (deltaSrcs.isEmpty) spark.read.parquet(pdir.toString)
        else spark.read.parquet(pdir.toString)
          .unionByName(spark.read.parquet(deltaSrcs: _*))
      val merged =
        if (tombs.isEmpty) unioned
        else unioned.join(
          spark.read.parquet(tombs.map(_.toString): _*).select("id"),
          Seq("id"), "left_anti")
      writeVersion(merged, dir, pv + 1,
        foldListFor(pdir, pending, admB, tombs),
        preCommit = recheck)
      recheck()
      vacuum(dir, retainVersions)
      true
    }
  }

  /** The new version's CUMULATIVE fold list (prior folds' names carry
   * forward): the sink log never forgets a committed file, so a version
   * that listed only its own fold would let files folded two epochs ago
   * — physically deleted — resurface as "pending"; tombstone batch and
   * admission batch numbers carry forward the same way so they are
   * never reused. ONE assembly shared by [[compactCore]] and
   * [[cutover]] — vacuum's deletions trust exactly this composition,
   * so the two verbs must never desynchronize. */
  private def foldListFor(pdir: Path, pending: Seq[String],
                          admB: Seq[Path], tombs: Seq[Path]): Seq[String] = {
    val tombKs = tombs.map(p =>
      tombMarker(p.getFileName.toString.stripPrefix("t=").toInt))
    val admKs = admB.map(p =>
      admMarker(p.getFileName.toString.stripPrefix("adm=b").toLong))
    (foldedNames(pdir) ++ pending.map(fileName) ++ admKs ++ tombKs)
      .toSeq.sorted
  }

  // ---- writer fencing (the storage half of L6's single-writer rule) ------

  private def writersPath(dir: String): Path = Paths.get(dir, "writers")

  private def epochsPresent(dir: String): Seq[Long] =
    if (!Files.isDirectory(writersPath(dir))) Nil
    else {
      val listing = Files.list(writersPath(dir))
      val entries = try listing.iterator().asScala.toList finally listing.close()
      entries.map(_.getFileName.toString)
        .filter(_.startsWith("epoch="))
        .map(_.stripPrefix("epoch=").toLong)
        .sorted
    }

  /** Claim the writer role, superseding every prior holder: returns a
   * monotonically increasing FENCING TOKEN (the Kafka-producer-epoch /
   * lease-epoch design). The claim is an atomic `createDirectory` — two
   * racers both computing epoch N collide on the mkdir and the loser
   * retries at N+1, so epochs are never shared. A prior writer is not
   * notified; it discovers it is a ZOMBIE when its next fenced verb
   * ([[compact]]/[[tombstone]] with its stale token) refuses — exactly
   * the "fail the zombie's next action" semantics a 100 TB deployment
   * needs when a maintenance job is rescheduled while its predecessor
   * is stuck but not dead. */
  @scala.annotation.tailrec
  def acquireWriter(dir: String): Long = {
    Files.createDirectories(writersPath(dir))
    val next = epochsPresent(dir).lastOption.getOrElse(-1L) + 1L
    val claimed =
      try { Files.createDirectory(writersPath(dir).resolve(s"epoch=$next")); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    if (claimed) next else acquireWriter(dir)
  }

  /** Refuse a verb from a superseded writer. Checked at verb entry AND
   * re-checked immediately before each commit point — [[compactCore]]
   * re-fences right before the new version's marker move and again
   * before its vacuum deletions, [[admit]] re-fences before every
   * micro-batch's write — so a zombie that lost the role mid-verb
   * aborts with the store unmoved. What remains is the standard
   * fencing residual every lease design carries: a supersession landing
   * between the final re-check and the (single, atomic)
   * marker/`_SUCCESS` commit — the window is one rename wide, and the
   * NEXT action from the zombie fails here deterministically. */
  private def fence(dir: String, epoch: Long): Unit = {
    val current = epochsPresent(dir).lastOption.getOrElse(-1L)
    require(current == epoch,
      s"writer fenced: epoch $epoch superseded by $current under $dir")
  }

  /** [[tombstone]] under a fencing token: a superseded writer's delete
   * refuses instead of corrupting the log. */
  def tombstone(spark: SparkSession, dir: String, ids: DataFrame,
                epoch: Long): Unit = {
    fence(dir, epoch)
    tombstone(spark, dir, ids)
  }

  /** [[compact]] under a fencing token: a superseded maintenance job
   * refuses instead of racing the new holder's fold — at entry, again
   * immediately before the new version's marker move, and again before
   * the vacuum deletions (a supersession landing mid-fold aborts with
   * the staged version invisible and nothing deleted). */
  def compact(spark: SparkSession, dir: String, maxDeltaFiles: Int,
              retainVersions: Int, epoch: Long): Boolean = {
    fence(dir, epoch)
    compactCore(spark, dir, maxDeltaFiles, retainVersions,
      () => fence(dir, epoch))
  }

  /** [[vacuum]] under a fencing token: a superseded maintenance job
   * cannot retire grace-window versions/files the new holder's pinned
   * readers still resolve. */
  def vacuum(dir: String, retainVersions: Int, epoch: Long): Unit = {
    fence(dir, epoch)
    vacuum(dir, retainVersions)
  }

  /**
   * REINDEX cutover — the verb for drift the surgical verbs can't
   * repair: publish `rebuilt` (an index REBUILT from the current
   * serving view under NEW trained constants, built as a SHADOW while
   * the current version keeps serving) as the next base version,
   * atomically via the version marker. The new version's fold list
   * covers every delta file, admission batch and tombstone the serving
   * view resolved — the rebuild incorporated them — so a post-cutover
   * reader sees exactly the rebuilt table, while a reader pinned at
   * the old version ([[readAt]]) keeps resolving its exact pre-cutover
   * file set through the vacuum grace (`retainVersions` > 1) until a
   * later fenced [[vacuum]] retires it. Requires the admission writer
   * quiesced (the single-writer rule — the rebuild must have seen
   * every commit), and ENFORCES it: the pre-marker re-check re-lists
   * the unfolded delta/admission/tombstone sets and aborts if they
   * moved since the entry snapshot — an admission stream still running
   * under the SAME epoch (every fence passes: admit holds the same
   * token) could otherwise commit a batch between the snapshot and the
   * marker move, and that batch would union into the new view ON TOP
   * of a rebuild that already contains its rows — double-served.
   * Unlike [[compact]] (whose merge includes only snapshotted files,
   * so a late batch merely stays pending), cutover's fold list claims
   * everything the rebuild saw — so the claim is re-verified at the
   * last instant. Also fenced like every maintenance verb: re-checked
   * immediately before the marker move and before the vacuum. Returns
   * the new live version number.
   */
  def cutover(spark: SparkSession, dir: String, rebuilt: DataFrame,
              retainVersions: Int, epoch: Long): Int =
    cutoverCore(spark, dir, rebuilt, retainVersions, epoch, () => ())

  /** The cutover body with an injectable hook AFTER the entry
   * snapshot and before the publish — package-private so the spec can
   * land a late commit deterministically and pin the pre-marker
   * quiescence abort. */
  private[graft] def cutoverCore(spark: SparkSession, dir: String,
                                 rebuilt: DataFrame, retainVersions: Int,
                                 epoch: Long,
                                 afterSnapshot: () => Unit): Int = {
    fence(dir, epoch)
    val vs = versions(dir)
    require(vs.nonEmpty, s"no live base version under $dir")
    val (pv, pdir) = vs.last
    val pending = unfoldedFrom(spark, dir, pdir)
    val admB = unfoldedAdm(dir, pdir)
    val tombs = unfoldedTombs(dir, pdir)
    afterSnapshot()
    writeVersion(rebuilt, dir, pv + 1,
      foldListFor(pdir, pending, admB, tombs),
      preCommit = () => {
        fence(dir, epoch)
        val nowP = unfoldedFrom(spark, dir, pdir)
        val nowA = unfoldedAdm(dir, pdir)
        val nowT = unfoldedTombs(dir, pdir)
        require(nowP == pending && nowA == admB && nowT == tombs,
          s"cutover aborted: commits landed under $dir after the shadow " +
            "rebuild's snapshot (the rebuild cannot contain them; " +
            "publishing would double-serve every row it does) — quiesce " +
            "the admission stream, rebuild, and retry")
      })
    fence(dir, epoch)
    vacuum(dir, retainVersions)
    pv + 1
  }

  /**
   * Retire base versions past the newest `retainVersions`, then delete
   * every delta file, admission batch and tombstone batch folded into
   * the OLDEST retained version — those are invisible to all retained
   * versions (fold lists are cumulative), so no pinned reader can
   * still need them; files folded only into NEWER versions stay,
   * because a reader pinned at the oldest retained version still
   * resolves them as unfolded. Torn tombstone dirs (no `_SUCCESS`) are
   * dead garbage and go too. A torn ADMISSION dir is retired only when
   * its batch id is in the retained fold list — that id committed,
   * folded and can never be legitimately rewritten ([[admit]] refuses
   * folded ids), so the dir is a corpse from a crashed rewrite;
   * at-the-frontier torn dirs stay, because an in-flight replay may be
   * mid-write on its own batch dir and its retry overwrites it. Runs
   * in the writer-quiesced maintenance window like [[compact]] (which
   * calls it); idempotent. Unfenced form is package-private;
   * production callers use the epoch overload.
   */
  private[graft] def vacuum(dir: String, retainVersions: Int = 1): Unit = {
    require(retainVersions >= 1, s"retainVersions must be >= 1")
    val vs = versions(dir)
    if (vs.nonEmpty) {
      vs.dropRight(retainVersions)
        .foreach { case (_, p) => graft.util.Fs.deleteRecursive(p) }
      val folded = foldedNames(vs.takeRight(retainVersions).head._2)
      val deltaRoot = Paths.get(deltaDir(dir))
      folded.filterNot(_.startsWith("tombs/"))
        .foreach { name =>
          // adm= markers name whole batch DIRS; plain names are files.
          // The recursive delete on a folded adm= dir is the SINGLE
          // owner of folded-batch retirement: it removes committed and
          // torn-rewrite corpses alike (admit refuses folded ids, so a
          // folded dir can never be a live in-flight write).
          if (name.startsWith("adm="))
            graft.util.Fs.deleteRecursive(deltaRoot.resolve(name))
          else Files.deleteIfExists(deltaRoot.resolve(name))
        }
      tombDirsPresent(dir).collect {
        case (k, p) if folded(tombMarker(k)) ||
          !Files.exists(p.resolve("_SUCCESS")) => p
      }.foreach(graft.util.Fs.deleteRecursive)
    }
  }
}
