package graft

import org.apache.spark.sql.functions._
import graft.ml.{IndexStore, Similarity}
import graft.state.StateDir
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The streamed-index storage layer (e16's layout): versioned base +
  * fenced admission delta (`delta/adm=b<id>`, one dir per micro-batch),
  * threshold-triggered compaction, and the isolation contract a
  * concurrent reader relies on. The e16 gate's oracle proves the
  * serving VIEW is row-stable across the fold; these tests pin the
  * file-level effects and the torn-batch invisibility the oracle can't
  * see. Isolation is tested DETERMINISTICALLY at its mechanism — a
  * batch dir is live only with its `_SUCCESS` — and then with a racing
  * reader: a reader at ANY instant sees exactly the committed prefix
  * (test: serve after each wave) and never an uncommitted batch
  * (test: planted torn batch dir), which together are what "serve while
  * admitting never reads a torn batch" means at commit granularity.
  */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(n: Int) = (0 until n).map { i =>
    val a = Array.fill(8)(0.0f)
    a(i % 8) = 1.0f; a((i + 3) % 8) = 0.01f * (i % 37)
    (i.toLong, a)
  }.toDF("id", "vec")

  private val cents = Similarity.ivfCentroids(4, 8).map(_.map(_.toDouble))
  private val books = Similarity.pqCodebooks(2, 4, 4)

  /** A file-source stream over `dir/in`, one file per trigger. */
  private def waveStream(dir: String, schema: org.apache.spark.sql.types.StructType) = {
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.shuffle.partitions", "4")
    scoped.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(Paths.get(dir, "in").toString)
  }

  /** `df` as three waves by `pmod(id, 3)`. */
  private def thirds(df: org.apache.spark.sql.DataFrame) =
    (0 until 3).map(i => df.filter(pmod(col("id"), lit(3)) === i))

  /** A fresh store under `dir/index`: the base holds ids < 120 of a
    * 240-vector corpus, and `waves` pmod-3 slices of the rest are staged
    * as waves and admitted under the writer's epoch, one
    * batch per trigger. Returns the corpus, the store dir and the epoch
    * once the stream drains and stops. */
  private def admittedStore(dir: String, waves: Int = 3) = {
    graft.util.Fs.deleteRecursive(Paths.get(dir))
    val vecs = corpus(240)
    val idx = s"$dir/index"
    val w = StateDir.acquireWriter(idx)
    IndexStore.writeBase(
      Similarity.ivfPqIndex(vecs.filter(col("id") < 120), books, cents), idx, w)
    val incoming = vecs.filter(col("id") >= 120)
    val in = Paths.get(dir, "in")
    Files.createDirectories(in)
    val stage = Tables.stageWaves(Tables.dirTag(dir), thirds(incoming))
    (0 until waves).foreach(stage(_, Seq(in)))
    val q = IndexStore.admit(
      Similarity.ivfPqIndex(waveStream(dir, incoming.schema), books, cents),
      idx, s"$dir/ckpt", w)
    q.processAllAvailable()
    q.stop()
    (vecs, idx, w)
  }

  test("compaction folds committed deltas into a new live version; view row-stable; files bounded") {
    val (_, idx, w) = admittedStore("target/tmp/idxstore_fold")

    // three per-wave commits pending
    assert(IndexStore.unfoldedDeltaBatches(idx).size == 3)
    val before = IndexStore.read(spark, idx).collect().toSet
    assert(before.size == 240)

    // below threshold: no-op
    assert(!IndexStore.compact(spark, idx, maxDeltaFiles = 3,
      retainVersions = 1, epoch = w))
    // past threshold: folds, view unchanged, delta drained, v=1 live
    assert(IndexStore.compact(spark, idx, maxDeltaFiles = 2,
      retainVersions = 1, epoch = w))
    assert(IndexStore.read(spark, idx).collect().toSet == before,
      "the fold moved the serving view")
    assert(IndexStore.unfoldedDeltaBatches(idx).isEmpty)
    assert(Files.exists(Paths.get(idx, "base", "v=1", "_SUCCESS")))
    assert(!Files.exists(Paths.get(idx, "base", "v=0")),
      "old version not vacuumed")
    // idempotent: nothing left to fold, and a zero-threshold re-compact
    // is a no-op (both pinned unconditionally — an || here would let the
    // no-op branch mask a fold that drained nothing)
    assert(!IndexStore.compact(spark, idx, maxDeltaFiles = 0,
      retainVersions = 1, epoch = w))
    assert(IndexStore.unfoldedDeltaBatches(idx).isEmpty)
  }

  test("tombstones: merge-on-read excludes ids, compaction applies them physically, torn batch invisible") {
    val (_, idx, w) = admittedStore("target/tmp/idxstore_tombs")
    val before = IndexStore.read(spark, idx).collect().toSet
    assert(before.size == 240)

    // merge-on-read: the verb is one id-list append, the view excludes
    // the ids immediately — rows in the BASE and rows in the DELTA both
    import spark.implicits._
    IndexStore.tombstone(idx,
      (0L until 240L).filter(_ % 7 == 3).toDF("id"), w)
    val surviving = before.filterNot(_.getLong(0) % 7 == 3)
    assert(IndexStore.read(spark, idx).collect().toSet == surviving)
    assert(IndexStore.unfoldedTombstoneBatches(idx).size == 1)

    // a torn tombstone batch (crash before _SUCCESS) is invisible: it
    // must neither delete its ids nor block the next batch's number
    val tornDir = Paths.get(idx, "tombs", "t=1")
    Seq(0L, 1L).toDF("id").write.parquet(tornDir.toString)
    Files.delete(tornDir.resolve("_SUCCESS"))
    assert(IndexStore.read(spark, idx).collect().toSet == surviving,
      "a torn tombstone batch leaked into the serving view")
    IndexStore.tombstone(idx, Seq(139L).toDF("id"), w)
    assert(Files.isDirectory(Paths.get(idx, "tombs", "t=2")),
      "tombstone reused a torn batch's number")
    val surviving2 = surviving.filterNot(_.getLong(0) == 139L)
    assert(IndexStore.read(spark, idx).collect().toSet == surviving2)

    // compaction: applies every pending tombstone physically (the new
    // base holds no deleted row), records the batches in the atomic
    // fold marker, vacuums live+torn batch dirs, and the view is
    // row-stable across the fold
    assert(IndexStore.compact(spark, idx, maxDeltaFiles = 2,
      retainVersions = 1, epoch = w))
    assert(IndexStore.read(spark, idx).collect().toSet == surviving2,
      "the fold moved the serving view")
    assert(IndexStore.unfoldedTombstoneBatches(idx).isEmpty)
    assert(spark.read.parquet(Paths.get(idx, "base", "v=1").toString)
      .filter(col("id") % 7 === 3 || col("id") === 139L).count() == 0,
      "a tombstoned row survived the physical apply")
    assert(!Files.exists(Paths.get(idx, "tombs", "t=0")) &&
           !Files.exists(tornDir),
      "compaction did not vacuum the folded/torn tombstone batches")

    // tombstones ALONE trip the next fold (they are per-read merge
    // cost too), and the folded batch numbers are never reused
    IndexStore.tombstone(idx, Seq(140L).toDF("id"), w)
    assert(Files.isDirectory(Paths.get(idx, "tombs", "t=3")),
      "tombstone reused a folded batch's number")
    assert(IndexStore.compact(spark, idx, maxDeltaFiles = 0,
      retainVersions = 1, epoch = w))
    assert(IndexStore.read(spark, idx).collect().toSet ==
      surviving2.filterNot(_.getLong(0) == 140L))
  }

  test("a crash mid-fold-commit (torn _folded marker) never makes a truncated fold list live") {
    val (_, idx, w) = admittedStore("target/tmp/idxstore_tornfold")
    val before = IndexStore.read(spark, idx).collect().toSet
    assert(before.size == 240)

    // simulate a compaction that crashed between the parquet commit and
    // the fold-marker rename: v=1 holds the fully merged data (with
    // _SUCCESS) but only a PARTIAL fold list, parked at the staging
    // name the atomic commit uses. Under the old bare-write scheme this
    // partial list would be LIVE — the two missing admission batches
    // would be served from the delta dir AND from their merged copies
    // in v=1. The fold list names batch dirs (`adm=b0`).
    val pending = IndexStore.unfoldedDeltaBatches(idx)
    assert(pending.size == 3)
    val crashed = Paths.get(idx, "base", "v=1")
    spark.read.parquet(Paths.get(idx, "base", "v=0").toString)
      .unionByName(spark.read.parquet(pending: _*))
      .write.mode("overwrite").parquet(crashed.toString)
    Files.write(crashed.resolve("_folded.tmp"),
      pending.take(1).map(Paths.get(_).getFileName.toString)
        .mkString("\n").getBytes("UTF-8"))

    // the half-committed version is invisible: the reader still serves
    // v=0 + the full committed delta — no duplicates, no lost rows
    assert(IndexStore.read(spark, idx).collect().toSet == before,
      "a torn fold marker changed the serving view")
    assert(IndexStore.unfoldedDeltaBatches(idx).size == 3)

    // recovery is the ordinary retry: compact() re-runs against the
    // still-live v=0, overwrites the crashed v=1 wholesale, and commits
    // its marker atomically
    assert(IndexStore.compact(spark, idx, maxDeltaFiles = 0,
      retainVersions = 1, epoch = w))
    assert(IndexStore.read(spark, idx).collect().toSet == before)
    assert(IndexStore.unfoldedDeltaBatches(idx).isEmpty)
    assert(Files.exists(Paths.get(idx, "base", "v=1", "_folded")))
    assert(!Files.exists(Paths.get(idx, "base", "v=1", "_folded.tmp")))
  }

  test("vacuum grace: a retained old version serves its exact pre-fold view; vacuum retires only out-of-grace state") {
    import scala.jdk.CollectionConverters._
    val (_, idx, w) = admittedStore("target/tmp/idxstore_grace")
    import spark.implicits._
    IndexStore.tombstone(idx,
      (0L until 240L).filter(_ % 7 == 3).toDF("id"), w)
    val before = IndexStore.read(spark, idx).collect().toSet
    def deltaBatches(): Int = {
      val l = Files.list(Paths.get(IndexStore.deltaDir(idx)))
      try l.iterator().asScala
        .count(_.getFileName.toString.startsWith("adm=b"))
      finally l.close()
    }

    assert(IndexStore.compact(spark, idx, maxDeltaFiles = 2,
      retainVersions = 2, epoch = w))
    assert(IndexStore.liveVersions(idx) == Seq(0, 1))
    // the grace window retains v0 AND everything v0 still resolves as
    // unfolded: the three folded admission batches and the folded
    // tombstone batch stay on disk even though v1 has them merged/applied
    assert(deltaBatches() >= 3,
      "grace compaction deleted delta batches a v0-pinned reader needs")
    assert(Files.exists(Paths.get(idx, "tombs", "t=0", "_SUCCESS")),
      "grace compaction deleted the tombstone batch v0 still anti-joins")
    // pinned and current reads converge on the SAME rows through
    // DIFFERENT file sets (old base + retained files vs merged base)
    assert(IndexStore.readAt(spark, idx, 0).collect().toSet == before,
      "the v0-pinned grace view drifted from the pre-fold view")
    assert(IndexStore.readAt(spark, idx, 1).collect().toSet == before)
    assert(IndexStore.read(spark, idx).collect().toSet == before)
    // a never-live version refuses rather than serving garbage
    intercept[IllegalArgumentException] {
      IndexStore.readAt(spark, idx, 7)
    }
    // vacuum inside the grace is a no-op; vacuum(1) retires v0, its
    // folded admission batches and the folded tombstone batch — and the
    // current view does not move by a row
    IndexStore.vacuum(idx, retainVersions = 2, epoch = w)
    assert(IndexStore.liveVersions(idx) == Seq(0, 1))
    IndexStore.vacuum(idx, retainVersions = 1, epoch = w)
    assert(IndexStore.liveVersions(idx) == Seq(1))
    assert(!Files.exists(Paths.get(idx, "base", "v=0")))
    assert(!Files.exists(Paths.get(idx, "tombs", "t=0")))
    assert(deltaBatches() == 0, "vacuum left folded delta batches behind")
    assert(IndexStore.read(spark, idx).collect().toSet == before,
      "vacuum moved the serving view")
  }

  test("writer fencing: a superseded writer's next verb refuses; the new holder proceeds") {
    val (_, idx, _) = admittedStore("target/tmp/idxstore_fence")
    val before = IndexStore.read(spark, idx).collect().toSet
    import spark.implicits._

    val a = StateDir.acquireWriter(idx)
    IndexStore.tombstone(idx, Seq(3L).toDF("id"), epoch = a)
    // B takes over: monotone token, A is now a zombie
    val b = StateDir.acquireWriter(idx)
    assert(b > a)
    val ex = intercept[IllegalArgumentException] {
      IndexStore.compact(spark, idx, maxDeltaFiles = 2,
        retainVersions = 1, epoch = a)
    }
    assert(ex.getMessage.contains("fenced"))
    intercept[IllegalArgumentException] {
      IndexStore.tombstone(idx, Seq(4L).toDF("id"), epoch = a)
    }
    // the zombie's refusals left the store exactly where A's last
    // COMMITTED verb left it — no half-applied maintenance
    assert(IndexStore.read(spark, idx).collect().toSet ==
      before.filterNot(_.getLong(0) == 3L))
    // the current holder's verbs proceed under its token
    IndexStore.tombstone(idx, Seq(4L).toDF("id"), epoch = b)
    assert(IndexStore.compact(spark, idx, maxDeltaFiles = 2,
      retainVersions = 1, epoch = b))
    assert(IndexStore.read(spark, idx).collect().toSet ==
      before.filterNot(r => r.getLong(0) == 3L || r.getLong(0) == 4L))
  }

  test("fenced admission: a zombie's next batch refuses with the store unmoved; the new holder resumes the same checkpoint") {
    val dir = "target/tmp/idxstore_admit"
    graft.util.Fs.deleteRecursive(Paths.get(dir))
    val vecs = corpus(240)
    val idx = s"$dir/index"
    val in = Paths.get(dir, "in")
    Files.createDirectories(in)
    val incoming = vecs.filter(col("id") >= 120)
    val stage = Tables.stageWaves(Tables.dirTag(dir), thirds(incoming))
    def admitQuery(epoch: Long) = {
      val stream = waveStream(dir, incoming.schema)
      IndexStore.admit(Similarity.ivfPqIndex(stream, books, cents),
        idx, s"$dir/ckpt", epoch)
    }

    val a = StateDir.acquireWriter(idx)
    IndexStore.writeBase(
      Similarity.ivfPqIndex(vecs.filter(col("id") < 120), books, cents),
      idx, a)
    // wave 0 commits under A's epoch through the fenced channel
    stage(0, Seq(in))
    val qa = admitQuery(a)
    qa.processAllAvailable()
    val afterW0 = IndexStore.read(spark, idx).collect().toSet
    assert(afterW0.size == 160)
    assert(Files.exists(
      Paths.get(IndexStore.deltaDir(idx), "adm=b0", "_SUCCESS")))

    // B supersedes while A's stream is still running — A's NEXT batch
    // (wave 1) must refuse at its pre-write fence with the store unmoved
    val b = StateDir.acquireWriter(idx)
    stage(1, Seq(in))
    val ex = intercept[Throwable] { qa.processAllAvailable() }
    assert(Option(ex.getMessage).getOrElse(ex.getCause.getMessage)
      .contains("fenced") || ex.getCause != null &&
        ex.getCause.getMessage.contains("fenced"),
      s"expected a fence refusal, got: $ex")
    qa.stop()
    assert(!Files.exists(Paths.get(IndexStore.deltaDir(idx), "adm=b1")),
      "the zombie's refused batch left data behind")
    assert(IndexStore.read(spark, idx).collect().toSet == afterW0,
      "the zombie's refused batch moved the serving view")

    // a freshly-started zombie refuses at ENTRY too (never starts)
    intercept[IllegalArgumentException] { admitQuery(a) }

    // the new holder resumes the SAME checkpoint under its epoch: the
    // committed batch 0 does not replay, wave 1 lands as adm=b1
    val qb = admitQuery(b)
    qb.processAllAvailable()
    assert(IndexStore.read(spark, idx).collect().toSet.size == 200,
      "resume replayed a committed batch or lost the refused one")
    // a torn admission dir (crash mid-write, no _SUCCESS) is invisible
    val torn = Paths.get(IndexStore.deltaDir(idx), "adm=b9")
    Similarity.ivfPqIndex(
        vecs.filter(col("id") < 5).withColumn("id", col("id") + 9000L),
        books, cents)
      .write.parquet(torn.toString)
    Files.delete(torn.resolve("_SUCCESS"))
    assert(IndexStore.read(spark, idx).collect().toSet.size == 200,
      "a torn admission batch leaked into the serving view")
    stage(2, Seq(in))
    qb.processAllAvailable()
    qb.stop()
    val all = IndexStore.read(spark, idx).collect().toSet
    assert(all.size == 240)
    assert(IndexStore.unfoldedDeltaBatches(idx).size == 3)

    // the fold drains the committed admission batches (not the torn
    // one), the view is row-stable, and vacuum retires the batch dirs
    assert(IndexStore.compact(spark, idx, maxDeltaFiles = 2,
      retainVersions = 1, epoch = b))
    assert(IndexStore.read(spark, idx).collect().toSet == all,
      "the fold moved the serving view")
    assert(IndexStore.unfoldedDeltaBatches(idx).isEmpty)
    assert(!Files.exists(Paths.get(IndexStore.deltaDir(idx), "adm=b0")),
      "vacuum left a folded admission batch dir behind")

    // a holder pointing a FRESH checkpoint at the store refuses AT
    // ENTRY: the store is bound to its original checkpoint's identity
    // on first admit, and a foreign checkpoint would restart batch ids
    // at 0 and replace committed admission batches with different rows
    val c = StateDir.acquireWriter(idx)
    val freshStream = waveStream(dir, incoming.schema)
    val exc = intercept[IllegalArgumentException] {
      IndexStore.admit(
        Similarity.ivfPqIndex(freshStream, books, cents),
        idx, s"$dir/ckpt_fresh", c)
    }
    assert(exc.getMessage.contains("bound to a different admission checkpoint"),
      s"expected the checkpoint-identity refusal, got: $exc")
    assert(IndexStore.read(spark, idx).collect().toSet == all,
      "the refused fresh-checkpoint admit moved the serving view")
  }

  test("fenced bootstrap and vacuum: a superseded writer can neither re-bootstrap nor retire grace state") {
    val dir = "target/tmp/idxstore_bootfence"
    graft.util.Fs.deleteRecursive(Paths.get(dir))
    val vecs = corpus(120)
    val idx = s"$dir/index"
    val base = Similarity.ivfPqIndex(vecs, books, cents)
    val a = StateDir.acquireWriter(idx)
    val b = StateDir.acquireWriter(idx)
    intercept[IllegalArgumentException] { IndexStore.writeBase(base, idx, a) }
    assert(IndexStore.liveVersions(idx).isEmpty,
      "the zombie's refused bootstrap left a live version")
    IndexStore.writeBase(base, idx, b)
    assert(IndexStore.liveVersions(idx) == Seq(0))
    intercept[IllegalArgumentException] {
      IndexStore.vacuum(idx, retainVersions = 1, epoch = a)
    }
    IndexStore.vacuum(idx, retainVersions = 1, epoch = b)
    assert(IndexStore.liveVersions(idx) == Seq(0))
  }

  test("a supersession landing mid-fold aborts the compaction with the store unmoved") {
    val (_, idx, w) = admittedStore("target/tmp/idxstore_midfold")
    val before = IndexStore.read(spark, idx).collect().toSet
    assert(before.size == 240)

    // the fence re-check fires with the new version fully staged but
    // still unpublished — a supersession here must abort the fold with
    // nothing live, nothing deleted, the serving view unmoved
    var rechecks = 0
    intercept[IllegalArgumentException] {
      IndexStore.compactCore(spark, idx, maxDeltaFiles = 2,
        retainVersions = 1, epoch = w, recheck = () => {
          rechecks += 1
          throw new IllegalArgumentException(
            "writer fenced: superseded mid-fold")
        })
    }
    assert(rechecks == 1, "the abort must fire at the FIRST commit point")
    assert(IndexStore.liveVersions(idx) == Seq(0),
      "a mid-fold abort published the staged version")
    assert(!Files.exists(Paths.get(idx, "base", "v=1", "_folded")))
    assert(IndexStore.read(spark, idx).collect().toSet == before)
    assert(IndexStore.unfoldedDeltaBatches(idx).size == 3,
      "a mid-fold abort deleted delta state")

    // recovery is the new holder's ordinary retry over the staged ruins
    assert(IndexStore.compact(spark, idx, maxDeltaFiles = 2,
      retainVersions = 1, epoch = w))
    assert(IndexStore.read(spark, idx).collect().toSet == before)
  }

  test("a crash after the fold's publish and before its retire leaves both versions live and the view unmoved") {
    val (_, idx, w) = admittedStore("target/tmp/idxstore_postpublish")
    val before = IndexStore.read(spark, idx).collect().toSet
    assert(before.size == 240)
    val batches = IndexStore.unfoldedDeltaBatches(idx)
    assert(batches.size == 3)

    // the second re-check runs with the new version PUBLISHED and
    // nothing retired yet — a crash there must leave a consistent store
    var rechecks = 0
    intercept[IllegalStateException] {
      IndexStore.compactCore(spark, idx, maxDeltaFiles = 2,
        retainVersions = 1, epoch = w, recheck = () => {
          rechecks += 1
          if (rechecks == 2)
            throw new IllegalStateException("crash between publish and retire")
        })
    }
    assert(rechecks == 2, "the crash must fire at the SECOND commit point")
    assert(IndexStore.liveVersions(idx) == Seq(0, 1),
      "the publish did not land, or the crashed fold retired v0")
    assert(IndexStore.read(spark, idx).collect().toSet == before,
      "a crash before the retire moved the serving view")
    assert(IndexStore.unfoldedDeltaBatches(idx).isEmpty,
      "the published version does not claim the folded batches")
    assert(batches.forall(b => Files.exists(Paths.get(b))),
      "the crashed fold deleted folded batch dirs before its retire")

    // the next fenced vacuum is the recovery: it retires v0 and the
    // folded batch dirs, and the view does not move by a row
    IndexStore.vacuum(idx, retainVersions = 1, epoch = w)
    assert(IndexStore.liveVersions(idx) == Seq(1))
    assert(batches.forall(b => !Files.exists(Paths.get(b))),
      "vacuum left the folded batch dirs behind")
    assert(IndexStore.read(spark, idx).collect().toSet == before,
      "vacuum moved the serving view")
  }

  test("reindex cutover: atomic publish, pinned reader keeps its pre-cutover view, zombie refuses, vacuum retires grace") {
    val (vecs, idx, w) = admittedStore("target/tmp/idxstore_cutover")
    import spark.implicits._
    IndexStore.tombstone(idx,
      (0L until 240L).filter(_ % 7 == 3).toDF("id"), w)
    val before = IndexStore.read(spark, idx).collect().toSet
    assert(before.size == 240 - (0 until 240).count(_ % 7 == 3))

    // shadow rebuild under DIFFERENT constants (reversed centroid
    // table relabels every cell) over the surviving corpus
    val rebuilt = Similarity.ivfPqIndex(
      vecs.filter(col("id") % 7 =!= 3), books, cents.reverse)
    val rebuiltRows = rebuilt.collect().toSet
    assert(rebuiltRows.map(_.getLong(0)) == before.map(_.getLong(0)),
      "fixture: the rebuild must cover exactly the surviving ids")
    assert(rebuiltRows != before,
      "fixture too weak: the retrained rebuild must differ row-wise")

    val a = StateDir.acquireWriter(idx)
    val v1 = IndexStore.cutover(idx, rebuilt, retainVersions = 2,
      epoch = a)
    assert(v1 == 1 && IndexStore.liveVersions(idx) == Seq(0, 1))
    // pinned reader mid-cutover: its exact pre-cutover view, row for row
    assert(IndexStore.readAt(spark, idx, 0).collect().toSet == before,
      "the v0-pinned reader's view moved across the cutover")
    // current reader: exactly the rebuilt table
    assert(IndexStore.read(spark, idx).collect().toSet == rebuiltRows,
      "the cutover view is not the rebuilt index")

    // a superseded writer can neither cut over again nor vacuum
    val b = StateDir.acquireWriter(idx)
    intercept[IllegalArgumentException] {
      IndexStore.cutover(idx, rebuilt, retainVersions = 1, epoch = a)
    }
    intercept[IllegalArgumentException] {
      IndexStore.vacuum(idx, retainVersions = 1, epoch = a)
    }
    assert(IndexStore.liveVersions(idx) == Seq(0, 1),
      "a zombie's refusal moved the version set")

    // the new holder's vacuum retires v0 and everything only v0 needed
    IndexStore.vacuum(idx, retainVersions = 1, epoch = b)
    assert(IndexStore.liveVersions(idx) == Seq(1))
    assert(IndexStore.read(spark, idx).collect().toSet == rebuiltRows,
      "vacuum moved the serving view")
    assert(IndexStore.unfoldedDeltaBatches(idx).isEmpty &&
      IndexStore.unfoldedTombstoneBatches(idx).isEmpty,
      "the cutover's fold list did not cover the drained logs")
  }

  test("a torn (uncommitted) delta file is invisible to readers") {
    val (vecs, idx, w) = admittedStore("target/tmp/idxstore_torn")
    val committed = IndexStore.read(spark, idx).count()

    // simulate an in-flight writer's crash: the next batch's dir
    // (`adm=b3`) holds its data files but never got its `_SUCCESS`
    val torn = Paths.get(IndexStore.deltaDir(idx), "adm=b3")
    Similarity.ivfPqIndex(
        vecs.filter(col("id") < 10).withColumn("id", col("id") + 9000L),
        books, cents)
      .coalesce(1).write.parquet(torn.toString)
    Files.delete(torn.resolve("_SUCCESS"))

    assert(IndexStore.read(spark, idx).count() == committed,
      "reader saw a batch dir that never committed")
    // and compaction doesn't fold it either
    IndexStore.compact(spark, idx, maxDeltaFiles = 0,
      retainVersions = 1, epoch = w)
    assert(IndexStore.read(spark, idx).count() == committed)
  }

  test("a LIVE reader racing a slow admission stream serves only committed-prefix snapshots") {
    val dir = "target/tmp/idxstore_race"
    graft.util.Fs.deleteRecursive(Paths.get(dir))
    val vecs = corpus(240)
    // SPARSE base (8 vectors): same-code twins tie on ADC and lose to
    // smaller ids, so a dense base would make every prefix serve the
    // same top-5 and the race would pin nothing; with 8 base vectors
    // each admitted wave genuinely reshapes the candidate pool
    val baseSlice = col("id") < 120 && col("id") % 16 === 0
    val idx = s"$dir/index"
    val w = StateDir.acquireWriter(idx)
    IndexStore.writeBase(
      Similarity.ivfPqIndex(vecs.filter(baseSlice), books, cents), idx, w)
    val queries = vecs.filter(col("id") < 4)
    def serve(i: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
      Similarity.ivfPqSearchIndex(queries, i, 5, books, cents, 2)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank").collect().toSeq

    // every answer a consistent reader may give: the batch-built index
    // over each committed prefix of waves (files commit in mtime order,
    // maxFilesPerTrigger=1, so prefixes are exactly base+0, base+w0,
    // base+w0+w1, all)
    val incoming = vecs.filter(col("id") >= 120)
    val prefixes = (0 to 3).map { k =>
      val admitted = vecs.filter(baseSlice ||
        (col("id") >= 120 && pmod(col("id"), lit(3)) < k))
      serve(Similarity.ivfPqIndex(admitted, books, cents))
    }
    assert(prefixes.distinct.size >= 3,
      "fixture too weak: admission waves barely move the serve results, " +
        "the race below would pin nothing")

    // the deterministic prefix test above proves WHAT a reader may see;
    // this one proves it while a real admission stream is mid-flight:
    // each micro-batch is slowed through a per-row sleep so a reader
    // thread hammering read()+search necessarily samples between
    // commits, and every sample must equal SOME committed-prefix answer
    // — never a torn batch, never a half-visible fold state
    val in = Paths.get(dir, "in")
    Files.createDirectories(in)
    val stage = Tables.stageWaves(Tables.dirTag(dir), thirds(incoming))
    (0 until 3).foreach(stage(_, Seq(in)))
    val slow = udf { (id: Long) => Thread.sleep(15); id >= 0 }
    val stream = waveStream(dir, incoming.schema).filter(slow(col("id")))

    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    @volatile var stopReader = false
    val reader = new Thread(() => {
      try {
        while (!stopReader) {
          val res = serve(IndexStore.read(spark, idx))
          val k = prefixes.indexOf(res)
          if (k < 0)
            throw new AssertionError(
              "a live serve matched NO committed-prefix index — torn read")
          seen.add(k)
        }
      } catch { case t: Throwable => failure.set(t) }
    }, "racing-reader")
    reader.start()
    val q = IndexStore.admit(Similarity.ivfPqIndex(stream, books, cents),
      idx, s"$dir/ckpt", w)
    q.processAllAvailable()
    q.stop()
    stopReader = true
    reader.join(30000)
    assert(failure.get() == null, s"racing reader failed: ${failure.get()}")
    assert(serve(IndexStore.read(spark, idx)) == prefixes.last,
      "post-drain serve drifted from the all-waves index")
    assert(seen.size >= 2,
      s"reader observed only prefix states $seen — the injected slow batch " +
        "did not expose any mid-admission read; slow the stream down")
  }

  test("serve-while-admitting: each serve sees exactly the committed prefix of waves") {
    val dir = "target/tmp/idxstore_prefix"
    graft.util.Fs.deleteRecursive(Paths.get(dir))
    val vecs = corpus(240)
    val idx = s"$dir/index"
    val ep = StateDir.acquireWriter(idx)
    IndexStore.writeBase(
      Similarity.ivfPqIndex(vecs.filter(col("id") < 120), books, cents), idx, ep)
    val queries = vecs.filter(col("id") < 4)

    // waves arrive ONE at a time (stream restarts from its checkpoint —
    // the admission path's crash-resume story rides along); after each
    // commit a serve over the store must equal the batch-built index of
    // exactly the admitted-so-far corpus: committed-prefix snapshots
    val incoming = vecs.filter(col("id") >= 120)
    val in = Paths.get(dir, "in")
    Files.createDirectories(in)
    val stage = Tables.stageWaves(Tables.dirTag(dir), thirds(incoming))
    (0 until 3).foreach { w =>
      stage(w, Seq(in))
      val q = IndexStore.admit(
        Similarity.ivfPqIndex(waveStream(dir, incoming.schema), books, cents),
        idx, s"$dir/ckpt", ep)
      q.processAllAvailable()
      q.stop()

      val admitted = vecs.filter(col("id") < 120 ||
        (col("id") >= 120 && pmod(col("id"), lit(3)) <= w))
      def serve(i: org.apache.spark.sql.DataFrame) =
        Similarity.ivfPqSearchIndex(queries, i, 5, books, cents, 2)
          .select("query_id", "rank", "neighbor_id")
          .orderBy("query_id", "rank").collect().toSeq
      assert(serve(IndexStore.read(spark, idx)) ==
             serve(Similarity.ivfPqIndex(admitted, books, cents)),
        s"serve after wave $w drifted from the committed-prefix index")
    }
  }

  test("checkpoint identity: a foreign checkpoint refuses at entry with NOTHING folded; a lost-state replay never rewrites a committed batch") {
    val dir = "target/tmp/idxstore_ckptid"
    graft.util.Fs.deleteRecursive(Paths.get(dir))
    val vecs = corpus(180)
    val idx = s"$dir/index"
    val in = Paths.get(dir, "in")
    Files.createDirectories(in)
    val incoming = vecs.filter(col("id") >= 90)
    Tables.stageWaves(Tables.dirTag(dir), Seq(incoming))(0, Seq(in))
    def admitQuery(ckpt: String, epoch: Long) = {
      val stream = waveStream(dir, incoming.schema)
      IndexStore.admit(Similarity.ivfPqIndex(stream, books, cents),
        idx, ckpt, epoch)
    }
    val a = StateDir.acquireWriter(idx)
    IndexStore.writeBase(
      Similarity.ivfPqIndex(vecs.filter(col("id") < 90), books, cents),
      idx, a)
    val q = admitQuery(s"$dir/ckpt", a)
    q.processAllAvailable(); q.stop()
    val admDir = Paths.get(IndexStore.deltaDir(idx), "adm=b0")
    assert(Files.exists(admDir.resolve("_SUCCESS")))
    val view = IndexStore.read(spark, idx).collect().toSet
    assert(view.size == 180)

    // the r13 guard keyed on FOLDED ids only — with adm=b0 committed
    // but unfolded (the common pre-compaction state), a foreign
    // checkpoint restarted ids at 0 and silently replaced it. The
    // identity bind refuses at entry, store unmoved.
    val exc = intercept[IllegalArgumentException] {
      admitQuery(s"$dir/ckpt_foreign", a)
    }
    assert(exc.getMessage.contains("bound to a different admission checkpoint"))
    assert(IndexStore.read(spark, idx).collect().toSet == view)

    // a replay whose checkpoint STATE was lost (same path = same
    // identity) re-runs batch 0 onto the committed dir — and must
    // no-op, not delete+rewrite it (a concurrent reader listing
    // mid-rewrite would see the committed batch vanish)
    val filesBefore = {
      val l = Files.list(admDir)
      try l.iterator().asScala.toList.map(p =>
        p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally l.close()
    }
    graft.util.Fs.deleteRecursive(Paths.get(s"$dir/ckpt"))
    val q2 = admitQuery(s"$dir/ckpt", a)
    q2.processAllAvailable(); q2.stop()
    val filesAfter = {
      val l = Files.list(admDir)
      try l.iterator().asScala.toList.map(p =>
        p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally l.close()
    }
    assert(filesAfter == filesBefore,
      "the committed-batch replay rewrote adm=b0 instead of no-opping")
    assert(IndexStore.read(spark, idx).collect().toSet == view)
  }

  test("cutover aborts when a commit lands after the shadow rebuild's snapshot") {
    val (vecs, idx, _) = admittedStore("target/tmp/idxstore_cutabort", waves = 2)
    val before = IndexStore.read(spark, idx).collect().toSet
    val rebuilt = Similarity.ivfPqIndex(
      vecs.filter(col("id") < 240), books, cents.reverse)
    val a = StateDir.acquireWriter(idx)
    // an admission batch commits between cutover's snapshot and its
    // marker move (same epoch — every fence passes; this is exactly
    // the double-serve the quiescence recheck exists to catch)
    val late = Similarity.ivfPqIndex(
      vecs.filter(col("id") < 3).withColumn("id", col("id") + 9000L),
      books, cents)
    val exc = intercept[IllegalArgumentException] {
      IndexStore.cutoverCore(idx, rebuilt, retainVersions = 1,
        epoch = a, afterSnapshot = () =>
          late.write.parquet(
            Paths.get(IndexStore.deltaDir(idx), "adm=b7").toString))
    }
    assert(exc.getMessage.contains("cutover aborted"),
      s"expected the quiescence abort, got: $exc")
    // store unmoved: v0 still live, the late batch serves as pending
    assert(IndexStore.liveVersions(idx) == Seq(0))
    assert(IndexStore.read(spark, idx).collect().toSet.size ==
      before.size + 3, "the late batch must serve as an unfolded delta")
    // with the writer genuinely quiesced, the retried cutover publishes
    val rebuilt2 = Similarity.ivfPqIndex(
      IndexStore.read(spark, idx).select("id").join(
        vecs.withColumn("id", col("id")), "id").select("id", "vec"),
      books, cents.reverse)
    val v = IndexStore.cutover(idx,
      rebuilt2, retainVersions = 1, epoch = a)
    assert(v == 1 && IndexStore.liveVersions(idx) == Seq(1))
  }

  test("vacuum retires a torn admission corpse whose id is folded, keeps the frontier's") {
    val dir = "target/tmp/idxstore_torncorpse"
    graft.util.Fs.deleteRecursive(Paths.get(dir))
    val vecs = corpus(240)
    val idx = s"$dir/index"
    val a = StateDir.acquireWriter(idx)
    IndexStore.writeBase(
      Similarity.ivfPqIndex(vecs.filter(col("id") < 120), books, cents),
      idx, a)
    val in = Paths.get(dir, "in")
    Files.createDirectories(in)
    val incoming = vecs.filter(col("id") >= 120)
    Tables.stageWaves(Tables.dirTag(dir), Seq(incoming))(0, Seq(in))
    val stream = waveStream(dir, incoming.schema)
    val q = IndexStore.admit(Similarity.ivfPqIndex(stream, books, cents),
      idx, s"$dir/ckpt", a)
    q.processAllAvailable(); q.stop()
    assert(IndexStore.compact(spark, idx, maxDeltaFiles = 0,
      retainVersions = 1, epoch = a))
    // plant a torn corpse at the FOLDED id 0 (crashed rewrite of a
    // batch that folded) and a torn frontier dir at id 9 (an in-flight
    // attempt a resumed stream may legitimately complete)
    def plantTorn(id: Int): java.nio.file.Path = {
      val p = Paths.get(IndexStore.deltaDir(idx), s"adm=b$id")
      Similarity.ivfPqIndex(
          vecs.filter(col("id") < 2).withColumn("id", col("id") + 8000L),
          books, cents)
        .write.parquet(p.toString)
      Files.delete(p.resolve("_SUCCESS"))
      p
    }
    val corpse = plantTorn(0)
    val frontier = plantTorn(9)
    val view = IndexStore.read(spark, idx).collect().toSet
    IndexStore.vacuum(idx, retainVersions = 1, epoch = a)
    assert(!Files.exists(corpse),
      "vacuum left the folded-id torn corpse behind")
    assert(Files.exists(frontier),
      "vacuum deleted a frontier torn dir an in-flight replay may own")
    assert(IndexStore.read(spark, idx).collect().toSet == view)
  }
}
