package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.Similarity
import graft.multimodal.Multimodal
import graft.operators.CacheScope
import graft.state.StateDir
import graft.text.{AdmissionState, Dedup, TextAnalysis}
import graft.util.Fs

/** The admission gate's library half: the dials every leg reads (the
 * oracle SQL renders the same constants), the per-trigger verdict
 * composition, the state-table reader, the concurrent-write pool and
 * the media fingerprint seam. [[AdmissionGateCore]] drives them, and
 * the Engine's `{"type":"admission"}` sink ([[AdmissionSink]]) drives
 * the core. */
object AdmissionGate {
  // the gate's text dials: k = 3 shingles, 16 MinHash permutations in
  // 4 bands, 64-wide hashed-text embeddings
  private[graft] val NumPerms = 16
  private[graft] val Bands = 4
  private[graft] val Dim = 64
  // decontamination-leg dials: the shingles a doc must share with one
  // benchmark doc, and the frozen benchmark postings' df cap
  private[graft] val DecontMinShared = 5
  private[graft] val DecontMaxDf = 10
  // containment-leg dials: tau = 4/5 over informative shingles, with a
  // floor on the smaller side so trivial snippets don't trigger; the
  // seed posting table df-caps at the d16 boilerplate dial
  private[graft] val ContainTauNum = 4
  private[graft] val ContainTauDen = 5
  private[graft] val ContainMinShingles = 10
  private[graft] val ContainMaxDf = 10
  // semantic-leg cosine threshold over hashed-text-count vectors — the
  // d15 SemDeDup dial: signed counts make high cosine mean genuinely
  // shared token distributions
  private[graft] val SemTau = 0.9
  // semantic-leg hot-bucket cap (the m12/m21 `maxBucket` discipline):
  // state buckets holding more reference docs than this leave the join.
  // 16× the dial's expected occupancy — headroom for the natural skew
  // of centered text embeddings (semantic clusters are real structure;
  // measured max ≈ 6× expected at sf0.1) while a degenerate pile
  // (templated boilerplate) still exits the join instead of exploding it
  private[graft] val SemMaxBucket = 256
  /** The audio id-seed modulus of the media fingerprint seam — chosen
   * NOT to divide (or be divided by) the textured image pack's
   * 1 000 000 id seed, so plant offsets exist that preserve one
   * modality's fingerprint while moving the other's (lcm = 7 000 000
   * preserves both). */
  private[graft] val AudioSeedMod = 700000L

  /** THE LSH-family production dial (shared by d14b and the semantic
   * admission leg): enough hyperplanes that the expected bucket holds
   * ~16 docs — `floor` is the minimum (the 8-plane fixture dial, or a
   * stream's current count so growth is monotone). */
  private[graft] def scaledPlaneCount(n: Long, floor: Int = 8): Int =
    math.max(floor,
      math.ceil(math.log(math.max(n, 1L) / 16.0) / math.log(2.0)).toInt)

  // Fixed daemon pool for overlapping INDEPENDENT state writes (r18,
  // guide §2.6 "overlap independent jobs"): Spark's scheduler happily
  // runs several jobs at once inside one application — the admission
  // gates' per-trigger state appends and bootstrap tables are
  // independent few-task jobs over already-cached frames whose wall
  // was pure one-job-at-a-time scheduling (profiled: l14 = ~208 jobs
  // of ~150 ms each, one at a time). Six threads: more than the widest
  // independent write set needs, far fewer than the cores.
  private lazy val stateWriteEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(6,
        (r: Runnable) => {
          val t = new Thread(r, "graft-state-write")
          t.setDaemon(true)
          t
        }))

  /** Run independent write thunks concurrently (first failure
   * propagates, all complete or fail before return). ONLY for writes
   * to DISTINCT directories with no ordering contract. */
  private[graft] def inParallel(writes: Seq[() => Unit]): Unit =
    if (writes.size <= 1) writes.foreach(_())
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec = stateWriteEc
      // every write's OUTCOME is awaited (Try lifts failures into the
      // value), then the first failure re-throws: a fail-fast
      // Future.sequence would return while sibling writes are still in
      // flight, and the caller's cleanup/abort (unpersist, state reset)
      // could race a live write (r18 verdict item)
      val outcomes = Await.result(
        Future.sequence(writes.map(w => Future(scala.util.Try(w())))),
        Duration.Inf)
      outcomes.foreach(_.get)
    }

  // Per-sub-table schema memo (r18): the admission state tables'
  // schemas are fixed by their writers (one writer per sub-table name,
  // identical across gates), but a bare spark.read.parquet re-infers
  // the schema from footers on EVERY trigger — a planning-time footer
  // read per sub-table per trigger, and at scale a schema-sampling
  // pass over many state files. Remember each sub-table's schema after
  // the first inference and pin it on later reads.
  private val stateSchemaMemo = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.types.StructType]
  // First-read-per-dir assertion (r19, the r18 verdict's hardening):
  // the memo is keyed by bare sub-table name for the JVM's lifetime
  // across all gates and SFs — correct today because every writer of a
  // given sub name produces one fixed schema, but if a future axis ever
  // forked a sub-table's schema per config the memo would silently pin
  // the first-seen one (wrong columns read as nulls). Each distinct
  // state DIR therefore verifies its actual footer schema against the
  // pinned one once (per dir, not per trigger — the per-trigger footer
  // skip the memo exists for is untouched).
  private val stateSchemaSeen = scala.collection.concurrent.TrieMap
    .empty[(String, String), Unit]
  private[graft] def readStateTable(sp: SparkSession, sub: String,
                                    paths: Seq[String]): DataFrame =
    stateSchemaMemo.get(sub) match {
      case Some(sc) =>
        paths.headOption.foreach { head =>
          if (stateSchemaSeen.putIfAbsent((sub, head), ()).isEmpty) {
            val actual = sp.read.parquet(head).schema
            require(
              actual.fields.map(f => (f.name, f.dataType)).toSeq ==
                sc.fields.map(f => (f.name, f.dataType)).toSeq,
              s"state sub-table '$sub' at $head has schema $actual but " +
                s"the JVM-wide memo pinned $sc — a writer forked the " +
                "sub-table schema; the memo would read the new columns " +
                "as nulls")
          }
        }
        sp.read.schema(sc).parquet(paths: _*)
      case None =>
        val df = sp.read.parquet(paths: _*)
        stateSchemaMemo.put(sub, df.schema)
        paths.headOption.foreach(h => stateSchemaSeen.put((sub, h), ()))
        df
    }
  // NOTE (r19, measured and REJECTED): spreading small state scans by
  // byte size (repartition to bytes/512KB when 2–64 MB) A/B'd a DEAD
  // TIE on the 4-gate admission set (27.229 vs 27.228 s at matched
  // canaries ~0.46). The profiled single-task ~650 ms verdict-leg
  // stages overlap under AQE already; the trigger wall is bounded by
  // AQE stage-sequencing + per-plan planning work, not task execution —
  // an extra exchange per leg buys nothing. Kept single-task.

  /** One frame's media FINGERPRINTS — pack to real containers, decode
   * and fingerprint in the codec seam; returns (image (media_id,
   * hash_hi, hash_lo), audio (media_id, fp_hi, fp_lo)). Per-doc cost
   * only; this runs on the BATCH each trigger (and once on the seed at
   * bootstrap) — never on the evolving reference. */
  private[graft] def mediaFingerprints(df: DataFrame): (DataFrame, DataFrame) = (
    Multimodal.imagePHash(Multimodal.packAsPngTextured(df, "doc_id", "text")),
    Multimodal.audioFingerprint(
      Multimodal.packAsWav(df, "doc_id", "text", idSeedMod = AudioSeedMod)))

  /** One trigger's verdict from the batch's ARTIFACTS and the
   * precomputed reference STATE, composed leg by leg: the dedup verdict
   * (exact digest + banded near); then, when `fused`, the batch-local
   * quality head and novelty vs the state shingle table; then each
   * declared leg — `posts` (benchmark decontamination), `cposts`
   * (containment), `semb` (semantic) and `extraFlags` (the media
   * axes). `admitted` ANDs every leg present. With no leg and no
   * `fused` the verdict is the dedup frame itself. Takes only derived
   * frames — no reference text can enter; the spec pins that by
   * asserting every file scan under the verdict resolves into the
   * state dir. */
  private[graft] def triggerVerdict(
      batch: DataFrame, batchArt: DataFrame, stateArt: DataFrame,
      stateSh: DataFrame, fused: Boolean,
      posts: Option[DataFrame] = None,
      cposts: Option[DataFrame] = None,
      semb: Option[(DataFrame, DataFrame)] = None,
      extraFlags: Seq[(String, DataFrame)] = Nil)(
      implicit scope: CacheScope): DataFrame = {
    val dedup = Dedup.admissionVerdictIncremental(batchArt, stateArt,
      numBands = Bands, numPerms = NumPerms)
    if (!fused && posts.isEmpty && cposts.isEmpty && semb.isEmpty &&
        extraFlags.isEmpty) dedup
    else {
      val base = if (!fused) dedup else {
        val qual = batch.select(col("doc_id"),
          TextAnalysis.classifierLogit(
            TextAnalysis.qualityFeatures(col("text"))).as("_z"))
          .select(col("doc_id"), (col("_z") >= 0.0).as("quality_keep"))
        val nov = Dedup.noveltyIncremental(batchArt, stateSh)
          .select("doc_id", "n_shingles", "n_known", "novelty")
        dedup.join(qual, "doc_id").join(nov, Seq("doc_id"), "left")
      }
      // each optional leg joins its flag and ANDs into the gate; the
      // flag frames are batch-proportional (threshold-decided joins)
      val withCt = posts match {
        case None => base
        case Some(p) =>
          val ct = Dedup.contaminatedIds(batchArt, p, DecontMinShared)
            .withColumn("_ct", lit(true))
          base.join(ct, Seq("doc_id"), "left")
            .withColumn("contaminated",
              coalesce(col("_ct"), lit(false))).drop("_ct")
      }
      val withCn = cposts match {
        case None => withCt
        case Some(cp) =>
          val cn = Dedup.containedIds(batchArt, cp,
              ContainTauNum, ContainTauDen, ContainMinShingles)
            .withColumn("_cn", lit(true))
          withCt.join(cn, Seq("doc_id"), "left")
            .withColumn("contained_dup",
              coalesce(col("_cn"), lit(false))).drop("_cn")
      }
      // the SEMANTIC leg (w17): batch hashed-text vectors bucket-join
      // the state embedding table (LSH equality — a paraphrase with the
      // same token bag lands the IDENTICAL vector, so the same bucket,
      // guaranteed); within-bucket exact cosine >= tau refuses. The
      // shingle legs are structurally blind to word-order paraphrase:
      // same bag, disjoint 3-grams. HOT-BUCKET CAP (the m7 discipline,
      // mirrored in the oracle): a state bucket holding more than
      // [[SemMaxBucket]] reference docs is degenerate (empty/boilerplate
      // token bags pile onto one vector) and leaves the join — per-doc
      // comparisons stay <= batch × cap however the reference grows
      val withSm = semb match {
        case None => withCn
        case Some((bEmb, sEmb)) =>
          val okBuckets = sEmb.groupBy("bucket")
            .agg(count(lit(1)).as("_occ"))
            .filter(col("_occ") <= SemMaxBucket).select("bucket")
          val sm = bEmb.select(col("doc_id"), col("bucket"),
              col("vec").as("_bv"))
            .join(sEmb.join(okBuckets, Seq("bucket"), "left_semi")
              .select(col("bucket"), col("vec").as("_rv")),
              Seq("bucket"))
            .filter(Similarity.cosine(col("_bv"), col("_rv")) >= SemTau)
            .select("doc_id").distinct().withColumn("_sm", lit(true))
          withCn.join(sm, Seq("doc_id"), "left")
            .withColumn("semantic_dup",
              coalesce(col("_sm"), lit(false))).drop("_sm")
      }
      // extra axes (the media legs): each is a (flagName, flaggedIds)
      // pair — batch-proportional id frames decided by their own joins
      // upstream — joined left and ANDed into the gate like every leg
      val withExtra = extraFlags.foldLeft(withSm) { case (df, (name, ids)) =>
        df.join(ids.select("doc_id").distinct()
            .withColumn(s"_x_$name", lit(true)), Seq("doc_id"), "left")
          .withColumn(name, coalesce(col(s"_x_$name"), lit(false)))
          .drop(s"_x_$name")
      }
      val gate = Seq(!col("exact_dup"), !col("near_dup")) ++
        (if (fused) Seq(col("quality_keep")) else Nil) ++
        posts.map(_ => !col("contaminated")) ++
        cposts.map(_ => !col("contained_dup")) ++
        semb.map(_ => !col("semantic_dup")) ++
        extraFlags.map { case (name, _) => !col(name) }
      withExtra.withColumn("admitted", gate.reduce(_ && _))
    }
  }
}

/** THE ADMISSION-GATE CORE — one implementation of bootstrap,
 * per-trigger verdict, state append and maintenance, driven by one
 * lifecycle: the Engine's `{"type":"admission"}` sink
 * ([[AdmissionSink]]), where every gate — the w- and m-gates drained
 * in process, l13–l16 REST-registered, paused, resumed and
 * offset-reset like any other connector — enables its admission axes
 * by config key (the reference's whole UX is per-connector config
 * toggles) over the same carefully shaped per-trigger plans.
 *
 * Each trigger computes its verdict from the BATCH's text plus the
 * PRECOMPUTED state ONLY: the admitted-corpus text lands under
 * `ref/` as the pipeline's product but is never re-read (the r13
 * scale fix — per-trigger cost is O(batch) hashing + joins against
 * state tables that grow only by admitted artifacts). Every change
 * under `state/` is one [[StateDir.publish]]: the bootstrap publishes
 * `state/` itself, each trigger its `b<id>` (fenced by the writer
 * epoch), each fold its `fold=<k>` — so [[AdmissionState.parts]] sees
 * a batch whole or not at all. A replayed id first removes its own
 * `b<id>`; the products `out/batch=<id>` and `ref/adm<id>` are
 * per-batch overwrites outside `state/`.
 *
 * The class owns the gate's LIVE dials: the frozen bucketing center
 * and the growing semantic plane count. A RESUMED deployment rebuilds both
 * from persisted state via [[resumeDials]]: the center reads back
 * from `state/center`, and the plane count re-derives as
 * scaledPlaneCount(newest fold's emb rows, floor = bootstrap count)
 * — growth happens ONLY at maintenance folds and scaledPlaneCount
 * is monotone in the (append-only) reference size, so the newest
 * fold pins exactly the dial the folding trigger chose; without
 * this, a resumed stream would bucket batches under the bootstrap
 * dial against state bucketed under the grown dial and silently
 * miss semantic dups. */
private[graft] final class AdmissionGateCore(
    base: String, fused: Boolean, hasBench: Boolean,
    containment: Boolean, semantic: Boolean, media: Boolean,
    hasBenchMedia: Boolean,
    semPlanes0: Seq[Seq[Long]],
    foldThreshold: Int = 6) {
  import AdmissionGate._
  val refDir = s"$base/ref"
  val stateDir = s"$base/state"
  val outDir = s"$base/out"
  // the semantic leg's LIVE LSH dial: starts at the caller's
  // production plane count (expected bucket ~ 16 docs over the gate
  // corpus — the d14b dial) and GROWS at the maintenance fold as the
  // reference crosses occupancy thresholds; the fold re-buckets the
  // folded state and the appends after it bucket under the grown
  // planes, so batch and state sides always agree
  private var curPlanes = semPlanes0
  /** Test hook: the live plane-dial size (spec-asserted around the
   * fold-growth and resume-derivation paths). */
  private[graft] def currentPlaneCount: Int = curPlanes.size
  // the bucketing CENTER: hashed text-count vectors share a dominant
  // common direction, so raw sign-of-dot buckets collapse into a
  // mega-bucket the hot-bucket cap would then blind; buckets derive
  // from the unit-normalized, seed-mean-centered vector instead
  // ([[Similarity.meanUnitVector]]). Frozen at bootstrap (quantizer
  // discipline — a reindex re-trains it) and persisted beside the
  // state so a resumed deployment reads it back rather than needing
  // the retired seed; the tiny `center` dir is invisible to
  // AdmissionState.parts.
  private var center: Seq[Double] = Nil

  private def rawEmbOf(df: DataFrame): DataFrame = df
    .select(col("doc_id").as("ref_id"),
      TextAnalysis.hashedEmbedding(
        Dedup.tokens(lower(col("text"))), Dim).as("vec"))
  private def bucketOf(vec: Column): Column =
    Similarity.lshBucket(Similarity.unitCentered(vec, center), curPlanes)
  private def embFrameOf(df: DataFrame): DataFrame = rawEmbOf(df)
    .select(col("ref_id"), bucketOf(col("vec")).as("bucket"), col("vec"))

  /** Run `body` under the Spark job label `desc` (guide §1.5). The
   * label is thread-local, so a thunk on the write pool sets its own
   * and profiles name exactly that write. */
  private def labeled[A](sp: SparkSession, desc: String)(body: => A): A = {
    sp.sparkContext.setJobDescription(desc)
    try body finally sp.sparkContext.setJobDescription(null)
  }

  /** First-start bootstrap: the seed corpus's DERIVED state — built
   * ONCE, before the stream starts; every trigger joins against
   * these files. Every table and the caller's `axes` record (the
   * `.axes` file) are staged under the hidden `.state.tmp`, and ONE
   * rename publishes `state/`: a crashed bootstrap leaves no
   * `state/`, so the next start bootstraps afresh. */
  def bootstrap(s: SparkSession, seed: DataFrame,
                bench: Option[DataFrame],
                benchMedia: Option[DataFrame], axes: String): Unit = {
    val stage = Paths.get(base, ".state.tmp")
    def at(sub: String): String = stage.resolve(sub).toString
    // r18: the bootstrap tables build in TWO CONCURRENT PHASES
    // (guide §2.6) — phase A writes everything derivable from the
    // caller's frames, phase B the tables that read phase-A parquet
    // back from the stage (the lineage-cut discipline, see the
    // sh/posts notes below)
    val phaseA = Seq.newBuilder[() => Unit]
    val phaseB = Seq.newBuilder[() => Unit]
    phaseA += (() => labeled(s, "adm:boot:seed") {
      seed.write.mode("overwrite").parquet(s"$refDir/seed")
    })
    phaseA += (() => labeled(s, "adm:boot:art") {
      Dedup.admissionArtifacts(seed, "doc_id", "text",
          k = 3, numPerms = NumPerms)
        .write.parquet(at("seed/art"))
    })
    // the distinct-shingle table exists for the novelty leg only — the
    // plain dedup form (w12/l13) neither writes nor reads it. It
    // derives from the artifact PARQUET, not the artifact plan:
    // explode() infers a not-null/size filter that Catalyst pushes
    // below the projections, inlining the whole tokenize+md5+shingle
    // subtree ~7x per document into a scan-level Filter (measured 10s
    // vs 0.5s on the seed) — the read-back cuts the lineage so the
    // filter lands on a materialized column
    if (fused)
      phaseB += (() => labeled(s, "adm:boot:sh") {
        s.read.parquet(at("seed/art"))
          .select(explode(col("sset")).as("h")).distinct()
          .write.parquet(at("seed/sh"))
      })
    // the FROZEN benchmark posting table (w15's decontamination leg):
    // built once at bootstrap — benchmarks change rarely — and read by
    // every trigger; df-capped like d16, derived via the same artifact
    // read-back that keeps explode off the raw tokenize plan. The
    // `bench`-prefixed dirs are invisible to AdmissionState.parts
    // (names parse as neither seed, b<id> nor fold=<k>).
    bench.foreach { b =>
      phaseA += (() => labeled(s, "adm:boot:bench_art") {
        Dedup.admissionArtifacts(b, "doc_id", "text", k = 3,
            numPerms = NumPerms)
          .write.parquet(at("bench/art"))
      })
      phaseB += (() => labeled(s, "adm:boot:bench_posts") {
        val bsh = s.read.parquet(at("bench/art"))
          .select(col("doc_id").as("bench_id"),
            explode(col("sset")).as("h"))
        val bkeep = bsh.groupBy("h").agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= DecontMaxDf).select("h")
        bsh.join(bkeep, Seq("h")).write.parquet(at("bench/posts"))
      })
    }
    // the containment leg's posting state (w16): the seed's df-capped
    // per-doc postings, built once at bootstrap from the artifact
    // read-back (the same lineage-cut discipline as the sh table);
    // admitted batches append their raw postings per trigger
    if (containment)
      phaseB += (() => labeled(s, "adm:boot:cpost") {
        Dedup.containmentPostings(s.read.parquet(at("seed/art")),
            ContainMaxDf)
          .write.parquet(at("seed/cpost"))
      })
    // the semantic leg's embedding state (w17): hashed-text vector +
    // LSH bucket per reference doc — one O(seed) codegen pass at
    // bootstrap, appended per admitted batch like every state table.
    // The center agg must complete before the bucketed emb write (the
    // bucket expression closes over it), so the leg is ONE thunk.
    if (semantic)
      phaseA += (() => labeled(s, "adm:boot:emb") {
        // one tokenize+embed pass, not two (r18): the center agg and
        // the bucketed emb write both read the seed's raw embeddings —
        // persist them for the thunk's lifetime
        val re = rawEmbOf(seed)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          center = Similarity.meanUnitVector(re, "vec", Dim)
          import s.implicits._
          Seq(center).toDF("center").write.parquet(at("center"))
          re.select(col("ref_id"), bucketOf(col("vec")).as("bucket"),
              col("vec"))
            .write.parquet(at("seed/emb"))
        } finally { re.unpersist(blocking = false); () }
      })
    // the MEDIA axes (m22/m24, and w18's full gate):
    // seed media fingerprints bootstrap once; the frozen
    // benchmark-media fingerprints freeze like the text posting
    // benchmark
    if (media) {
      val (si, sa) = mediaFingerprints(seed)
      phaseA += (() => labeled(s, "adm:boot:imgfp") {
        si.write.parquet(at("seed/imgfp"))
      })
      phaseA += (() => labeled(s, "adm:boot:audfp") {
        sa.write.parquet(at("seed/audfp"))
      })
      benchMedia.foreach { bm =>
        val (bi, ba) = mediaFingerprints(bm)
        phaseA += (() => labeled(s, "adm:boot:benchm_imgfp") {
          bi.write.parquet(at("benchm/imgfp"))
        })
        phaseA += (() => labeled(s, "adm:boot:benchm_audfp") {
          ba.write.parquet(at("benchm/audfp"))
        })
      }
    }
    StateDir.publish(stage, Paths.get(stateDir)) { t =>
      Files.createDirectories(t)
      Files.writeString(t.resolve(".axes"), axes)
      inParallel(phaseA.result())
      inParallel(phaseB.result())
    }
  }

  /** Startup-with-existing-state (the sink lifecycle's resume path):
   * rebuild the live dials from persisted state — see the class doc
   * for why the newest fold pins the plane count exactly. */
  def resumeDials(s: SparkSession): Unit = if (semantic) {
    center = s.read.parquet(s"$stateDir/center")
      .head().getSeq[Double](0).toSeq
    AdmissionState.newestFold(stateDir).foreach { fdir =>
      val n = s.read.parquet(s"$fdir/emb").count()
      val grown = scaledPlaneCount(n, floor = semPlanes0.size)
      if (grown > curPlanes.size)
        curPlanes = Similarity.hyperplanes(grown, Dim)
    }
  }

  /** One micro-batch through the gate: verdict from state, admitted
   * survivors' text to `ref/`, their artifacts staged under
   * `.b<id>.tmp` and published as `b<id>` by one fenced rename, the
   * maintenance fold once the unfolded tail exceeds the threshold.
   * The state read excludes ids at or above the current batch. */
  def applyBatch(sp: SparkSession, epoch: Long,
                 batch: DataFrame, id: Long): Unit =
    CacheScope.withScope { implicit scope =>
      val b = scope.persist(batch).toDF()
      StateDir.fence(stateDir, epoch)
      // a replayed id removes its own published state first: no later
      // trigger or fold has read it, because its checkpoint never
      // committed (a stale `.b<id>.tmp` goes at the publish)
      val staged = Paths.get(stateDir, s".b$id.tmp")
      val published = Paths.get(stateDir, s"b$id")
      Fs.deleteRecursive(published)
      // self-driving state maintenance (the LogTable auto-compaction
      // move) runs at the HEAD of the trigger (r18): once the
      // unfolded tail exceeds the threshold, fold everything strictly
      // below this batch BEFORE computing its verdict. Fold-first
      // makes the whole trigger replay-deterministic: a crash
      // anywhere in the trigger (fold published but `b<id>` not, or
      // `b<id>` published but checkpoint not committed) replays against
      // exactly the state this attempt read — the fold is already
      // published and won't re-run (parts collapse below threshold),
      // so the verdict recomputes identically (pinned by the
      // torn-fold spec). With fold-AFTER-verdict, the folding
      // trigger's verdict read pre-fold state under the old dial and
      // its replay read the folded state under the grown dial — a
      // borderline semantic pair could legitimately flip across a
      // crash. The PRODUCTION fold verb rewrites the derived tables
      // atomically with the compaction: `cpost` re-caps under the
      // GLOBAL df (cross-batch boilerplate leaves the postings
      // exactly here), and `emb` re-buckets under the GROWN plane
      // dial when the folded reference crosses an occupancy
      // threshold (expected bucket ~16 docs) — this trigger's verdict
      // and appends then bucket under the same grown planes, so
      // state and batch sides never mix dials.
      val preParts = AdmissionState.parts(stateDir, id)
      if (preParts.size > foldThreshold) {
        if (semantic) {
          val nRef = readStateTable(sp, "emb",
            preParts.map(_ + "/emb")).count()
          val grown = scaledPlaneCount(nRef, floor = curPlanes.size)
          if (grown > curPlanes.size)
            curPlanes = Similarity.hyperplanes(grown, Dim)
        }
        Dedup.maintenanceFold(sp, stateDir, upTo = id - 1,
          subs = (if (fused) Seq("art", "sh") else Seq("art")) ++
            (if (containment) Seq("cpost") else Nil) ++
            (if (semantic) Seq("emb") else Nil) ++
            (if (media) Seq("imgfp", "audfp") else Nil),
          epoch = epoch,
          recapMaxDf = if (containment) Some(ContainMaxDf) else None,
          rebucket = if (semantic) Some(bucketOf _) else None)
      }
      // state = seed + every PRIOR batch's admitted artifacts;
      // resolves through AdmissionState so folded state (the
      // small-files maintenance verb) reads as one compacted dir —
      // re-resolved AFTER the fold above retired the dirs it covered
      val parts = AdmissionState.parts(stateDir, id)
      val stateArt = readStateTable(sp, "art", parts.map(_ + "/art"))
      val stateSh = if (fused)
                      readStateTable(sp, "sh", parts.map(_ + "/sh"))
                    else sp.emptyDataFrame
      val batchArt = scope.persist(Dedup.admissionArtifacts(
        b, "doc_id", "text", k = 3, numPerms = NumPerms)).toDF()
      val posts = if (hasBench)
        Some(readStateTable(sp, "posts", Seq(s"$stateDir/bench/posts")))
      else None
      val cposts = if (containment)
        Some(readStateTable(sp, "cpost", parts.map(_ + "/cpost")))
      else None
      val batchEmb = if (semantic)
        Some(scope.persist(embFrameOf(b)
          .withColumnRenamed("ref_id", "doc_id")).toDF()) else None
      val semb = batchEmb.map(be =>
        (be, readStateTable(sp, "emb", parts.map(_ + "/emb"))))
      // the media axes: the batch's OWN decode + fingerprint
      // (O(batch) — reference media never re-decodes), then
      // fingerprint-group semi-joins against the evolving state
      // tables and the frozen benchmark-media tables (m22/m24)
      val batchMedia = if (!media) None else {
        val (bi, ba) = mediaFingerprints(b)
        Some((scope.persist(bi).toDF(), scope.persist(ba).toDF()))
      }
      val mediaFlags: Seq[(String, DataFrame)] = batchMedia match {
        case None => Nil
        case Some((bImg, bAud)) =>
          val stateImg = readStateTable(sp, "imgfp",
            parts.map(_ + "/imgfp"))
          val stateAud = readStateTable(sp, "audfp",
            parts.map(_ + "/audfp"))
          def hits(bfp: DataFrame, state: DataFrame,
                   keys: Seq[String]): DataFrame =
            bfp.join(state.select(keys.map(col): _*), keys, "left_semi")
              .select(col("media_id").as("doc_id"))
          Seq(
            "image_dup" -> hits(bImg, stateImg, Seq("hash_hi", "hash_lo")),
            "audio_dup" -> hits(bAud, stateAud, Seq("fp_hi", "fp_lo"))) ++
            (if (!hasBenchMedia) Nil else {
              val bi = readStateTable(sp, "imgfp",
                Seq(s"$stateDir/benchm/imgfp"))
              val ba = readStateTable(sp, "audfp",
                Seq(s"$stateDir/benchm/audfp"))
              Seq("media_contaminated" ->
                hits(bImg, bi, Seq("hash_hi", "hash_lo"))
                  .unionByName(hits(bAud, ba, Seq("fp_hi", "fp_lo"))))
            })
      }
      val verdict = scope.persist(triggerVerdict(
        b, batchArt, stateArt, stateSh, fused, posts, cposts,
        semb, mediaFlags)).toDF()
      labeled(sp, s"adm:verdict b$id") {
        verdict.write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
      val admIds = verdict.filter(col("admitted")).select("doc_id")
      // the state append: only the admitted docs' artifacts. Forced
      // into the cache ONCE (count) so the concurrent writers below
      // all read it instead of racing to recompute the join.
      val admArt = scope.persist(batchArt.join(admIds, "doc_id")).toDF()
      labeled(sp, s"adm:admArt b$id")(admArt.count())
      // r18: the per-batch product + state appends run CONCURRENTLY
      // (guide §2.6) — every input (verdict, b, batchArt, batchEmb,
      // media fingerprints) is already cached by the verdict pass,
      // the destinations are disjoint dirs, and no append reads
      // another's output
      def at(sub: String): String = staged.resolve(sub).toString
      val appends = Seq.newBuilder[() => Unit]
      // the admitted-corpus product (text) — WRITE-only from here on
      appends += (() => labeled(sp, s"adm:append:ref b$id") {
        b.join(admIds, "doc_id")
          .write.mode("overwrite").parquet(s"$refDir/adm$id")
      })
      appends += (() => labeled(sp, s"adm:append:art b$id") {
        admArt.write.parquet(at("art"))
      })
      if (fused)
        appends += (() => labeled(sp, s"adm:append:sh b$id") {
          admArt.select(explode(col("sset")).as("h")).distinct()
            .write.parquet(at("sh"))
        })
      if (containment)
        // raw (uncapped) postings: the append is batch-bounded, so
        // per-trigger containment fanout stays O(batch*maxDf +
        // unfolded*batch); the maintenance fold above re-caps
        // globally ([[Dedup.maintenanceFold]])
        appends += (() => labeled(sp, s"adm:append:cpost b$id") {
          admArt.select(col("doc_id").as("ref_id"), col("sset"))
            .select(col("ref_id"),
              explode(col("sset")).as("h"),
              size(col("sset")).cast("long").as("n_b"))
            .write.parquet(at("cpost"))
        })
      // bucket derived FROM THE VECTOR at append time (not reused
      // from the verdict frame): if the fold above grew the plane
      // dial, this append must already bucket under the grown planes
      batchEmb.foreach(be =>
        appends += (() => labeled(sp, s"adm:append:emb b$id") {
          be.join(admIds, "doc_id")
            .select(col("doc_id").as("ref_id"),
              bucketOf(col("vec")).as("bucket"), col("vec"))
            .write.parquet(at("emb"))
        }))
      batchMedia.foreach { case (bImg, bAud) =>
        appends += (() => labeled(sp, s"adm:append:imgfp b$id") {
          bImg.join(admIds, bImg("media_id") === admIds("doc_id"),
              "left_semi")
            .write.parquet(at("imgfp"))
        })
        appends += (() => labeled(sp, s"adm:append:audfp b$id") {
          bAud.join(admIds, bAud("media_id") === admIds("doc_id"),
              "left_semi")
            .write.parquet(at("audfp"))
        })
      }
      StateDir.publish(staged, published,
          () => StateDir.fence(stateDir, epoch)) { _ =>
        inParallel(appends.result())
      }
    }
}
