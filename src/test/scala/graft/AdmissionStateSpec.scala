package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.operators.CacheScope
import graft.pipeline.{AdmissionGate, AdmissionGateCore}
import graft.state.StateDir
import graft.text.Dedup

/** The incremental streamed-admission contract (w12/w14's r14 scale
  * fix): the evolving reference's DERIVED artifacts persist as
  * append-only state tables, and per-trigger verdicts are exactly
  * equivalent to the full-rescan form while never reading reference
  * TEXT after the seed bootstrap. */
class AdmissionStateSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
    .select("doc_id", "text")

  /** d13's exact fixture: existing corpus + a batch with planted clones. */
  private def fixture: (DataFrame, DataFrame) = {
    val existing = docs.filter(col("doc_id") < 400)
    val incoming = docs.filter(col("doc_id") >= 400)
      .unionByName(existing.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    (existing, incoming)
  }

  test("incremental admission verdict equals the full-rescan verdict row-for-row") {
    val (existing, incoming) = fixture
    CacheScope.withScope { implicit scope =>
      val full = LlmQueries.admissionVerdict(incoming, existing)
        .orderBy("doc_id").collect().toSeq
      val stateArt = Dedup.admissionArtifacts(existing, "doc_id", "text",
        k = 3, numPerms = 16)
      val batchArt = Dedup.admissionArtifacts(incoming, "doc_id", "text",
        k = 3, numPerms = 16)
      val inc = Dedup.admissionVerdictIncremental(batchArt, stateArt,
          numBands = 4, numPerms = 16)
        .orderBy("doc_id").collect().toSeq
      assert(inc == full,
        s"incremental verdict diverged: ${inc.diff(full).take(3)} vs ${full.diff(inc).take(3)}")
      // the fixture is live: both dup shapes present and docs admitted
      val byFlag = inc.groupBy(r => (r.getBoolean(1), r.getBoolean(2)))
      assert(byFlag.keys.exists(_._1) && byFlag.keys.exists(_._2) &&
        byFlag.contains((false, false)))
    }
  }

  test("incremental novelty equals noveltyAtAdmission row-for-row") {
    val (existing, incoming) = fixture
    CacheScope.withScope { implicit scope =>
      val full = Dedup.noveltyAtAdmission(existing, incoming,
          "doc_id", "text", k = 3)
        .orderBy("doc_id").collect().toSeq
      val batchArt = Dedup.admissionArtifacts(incoming, "doc_id", "text",
        k = 3, numPerms = 16)
      val stateSh = Dedup.admissionArtifacts(existing, "doc_id", "text",
          k = 3, numPerms = 16)
        .select(explode(col("sset")).as("h")).distinct()
      val inc = Dedup.noveltyIncremental(batchArt, stateSh)
        .orderBy("doc_id").collect().toSeq
      assert(inc == full)
    }
  }

  test("semi joins tolerate duplicate state rows (two identical admitted docs)") {
    CacheScope.withScope { implicit scope =>
      val state = Seq((1L, "the quick brown fox jumps over the lazy dog"),
                      (2L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")
      val batch = Seq((10L, "the quick brown fox jumps over the lazy dog"),
                      (11L, "an entirely different document about spark plans"))
        .toDF("doc_id", "text")
      val stateArt = Dedup.admissionArtifacts(state, "doc_id", "text", 3, 16)
      val batchArt = Dedup.admissionArtifacts(batch, "doc_id", "text", 3, 16)
      val v = Dedup.admissionVerdictIncremental(batchArt, stateArt, 4, 16)
        .orderBy("doc_id").collect()
      // one row per batch doc despite the duplicated state text
      assert(v.length == 2)
      assert(v(0).getBoolean(1) && !v(0).getBoolean(3)) // 10: exact dup
      assert(!v(1).getBoolean(1) && v(1).getBoolean(3)) // 11: admitted
      // novelty likewise: a shingle two state docs share counts once
      val stateSh = stateArt.select(explode(col("sset")).as("h")) // NOT distinct
      val nov = Dedup.noveltyIncremental(batchArt, stateSh)
        .filter(col("doc_id") === 10L).collect().head
      assert(nov.getLong(1) == nov.getLong(2) && nov.getDouble(3) == 0.0,
        s"identical doc must have novelty 0: $nov")
    }
  }

  test("state fold: one compacted dir replaces seed + folded batches; reads and verdicts identical; crash leaves state untouched") {
    import graft.text.AdmissionState
    val (existing, incoming) = fixture
    val base = "target/tmp/admission_fold_spec"
    graft.util.Fs.deleteRecursive(java.nio.file.Paths.get(base))
    val stateDir = s"$base/state"
    // bootstrap + two admitted batches, exactly the gate core's layout
    def art(df: DataFrame) =
      Dedup.admissionArtifacts(df, "doc_id", "text", 3, 16)
    def sh(df: DataFrame) = art(df).select(explode(col("sset")).as("h")).distinct()
    val b0 = incoming.filter(col("doc_id") % 3 === 0)
    val b1 = incoming.filter(col("doc_id") % 3 === 1)
    art(existing).write.parquet(s"$stateDir/seed/art")
    sh(existing).write.parquet(s"$stateDir/seed/sh")
    art(b0).write.parquet(s"$stateDir/b0/art")
    sh(b0).write.parquet(s"$stateDir/b0/sh")
    art(b1).write.parquet(s"$stateDir/b1/art")
    sh(b1).write.parquet(s"$stateDir/b1/sh")

    def readArt(belowId: Long) = spark.read.parquet(
      AdmissionState.parts(stateDir, belowId).map(_ + "/art"): _*)
    def verdictRows() = CacheScope.withScope { implicit scope =>
      Dedup.admissionVerdictIncremental(
          art(incoming.filter(col("doc_id") % 3 === 2)), readArt(2L), 4, 16)
        .orderBy("doc_id").collect().toSeq
    }
    val artBefore = readArt(2L).orderBy("doc_id").collect().toSeq
    val verdictBefore = verdictRows()

    // a crashed fold (torn .tmp) is invisible
    val torn = java.nio.file.Paths.get(stateDir, ".fold=0.tmp")
    java.nio.file.Files.createDirectories(torn)
    assert(AdmissionState.parts(stateDir, 2L).toSet ==
      Set(s"$stateDir/seed", s"$stateDir/b0", s"$stateDir/b1"))
    graft.util.Fs.deleteRecursive(torn)

    // fold seed + b0 (safe mid-stream: 0 < frontier 1): reads resolve
    // fold=0 + b1, and everything downstream is row-identical
    val e = AdmissionState.acquireWriter(stateDir)
    assert(AdmissionState.fold(spark, stateDir, upTo = 0L, Seq("art", "sh"), e))
    assert(AdmissionState.parts(stateDir, 2L) ==
      Seq(s"$stateDir/fold=0", s"$stateDir/b1"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(stateDir, "seed")))
    assert(readArt(2L).orderBy("doc_id").collect().toSeq == artBefore,
      "folded state lost or duplicated artifact rows")
    assert(verdictRows() == verdictBefore,
      "the verdict moved across the fold")

    // fold the rest: one dir, prior fold retired, still identical
    assert(AdmissionState.fold(spark, stateDir, upTo = 1L, Seq("art", "sh"), e))
    assert(AdmissionState.parts(stateDir, 2L) == Seq(s"$stateDir/fold=1"))
    assert(readArt(2L).orderBy("doc_id").collect().toSeq == artBefore)
    assert(verdictRows() == verdictBefore)
    // folding below the horizon refuses, and so does folding past the
    // newest batch (it would retire seed yet stay invisible to every
    // parts(belowId <= upTo) reader)
    intercept[IllegalArgumentException] {
      AdmissionState.fold(spark, stateDir, upTo = 1L, Seq("art", "sh"), e)
    }
    intercept[IllegalArgumentException] {
      AdmissionState.fold(spark, stateDir, upTo = 9L, Seq("art", "sh"), e)
    }
  }

  test("fencing: a superseded admission job's append/fold refuse with state unmoved; a foreign checkpoint refuses to bind") {
    import graft.text.AdmissionState
    import java.nio.file.{Files, Paths}
    val base = "target/tmp/admission_fence_spec"
    graft.util.Fs.deleteRecursive(Paths.get(base))
    val stateDir = s"$base/state"
    val docsSmall = docs.filter(col("doc_id") < 60)
    def art(df: DataFrame) =
      Dedup.admissionArtifacts(df, "doc_id", "text", 3, 16)
    art(docsSmall).write.parquet(s"$stateDir/seed/art")
    art(docsSmall.filter(col("doc_id") % 2 === 0))
      .write.parquet(s"$stateDir/b0/art")
    art(docsSmall.filter(col("doc_id") % 2 === 1))
      .write.parquet(s"$stateDir/b1/art")

    val e0 = AdmissionState.acquireWriter(stateDir)
    StateDir.bindCheckpoint(stateDir, s"$base/ckpt")
    // the writers/ dir is invisible to readers
    assert(AdmissionState.parts(stateDir, 2L).toSet ==
      Set(s"$stateDir/seed", s"$stateDir/b0", s"$stateDir/b1"))
    // same checkpoint re-binds freely (restart of the same stream)
    StateDir.bindCheckpoint(stateDir, s"$base/ckpt")
    // a fresh/foreign checkpoint refuses AT ENTRY — it would restart
    // batch ids and overwrite committed b<id> state
    intercept[IllegalArgumentException] {
      StateDir.bindCheckpoint(stateDir, s"$base/ckpt_other")
    }
    // URI-style identity doesn't resolve against the CWD
    StateDir.bindCheckpoint(
      s"$base/state_uri", "hdfs://nn:8020/pipelines/adm/ckpt")
    intercept[IllegalArgumentException] {
      StateDir.bindCheckpoint(
        s"$base/state_uri", "hdfs://nn:8020/pipelines/adm/ckpt2")
    }

    StateDir.fence(stateDir, e0) // holder appends fine
    val e1 = AdmissionState.acquireWriter(stateDir) // rescheduled job
    assert(e1 == e0 + 1)
    // the zombie's next append refuses…
    intercept[IllegalArgumentException] { StateDir.fence(stateDir, e0) }
    // …and so does its fold, with the state unmoved
    val before = AdmissionState.parts(stateDir, 2L)
    intercept[IllegalArgumentException] {
      AdmissionState.fold(spark, stateDir, upTo = 0L, Seq("art"), epoch = e0)
    }
    assert(AdmissionState.parts(stateDir, 2L) == before)
    assert(Files.exists(Paths.get(stateDir, "seed")))
    // a supersession landing MID-fold (while staging, before publish)
    // aborts at the pre-publish re-check with the state unmoved
    intercept[IllegalArgumentException] {
      AdmissionState.fold(spark, stateDir, upTo = 0L, Seq("art"), epoch = e1,
        build = (sub, read) => { AdmissionState.acquireWriter(stateDir); // e2
          read(sub) })
    }
    assert(AdmissionState.parts(stateDir, 2L) == before)
    // the live holder (now e2's owner) folds fine
    val e3 = AdmissionState.acquireWriter(stateDir)
    assert(AdmissionState.fold(spark, stateDir, upTo = 0L, Seq("art"),
      epoch = e3))
    assert(AdmissionState.parts(stateDir, 2L) ==
      Seq(s"$stateDir/fold=0", s"$stateDir/b1"))
  }

  test("fold self-heals dirs leaked by a crash between publish and retire") {
    import graft.text.AdmissionState
    import java.nio.file.{Files, Paths}
    val base = "target/tmp/admission_heal_spec"
    graft.util.Fs.deleteRecursive(Paths.get(base))
    val stateDir = s"$base/state"
    val docsSmall = docs.filter(col("doc_id") < 60)
    def art(df: DataFrame) =
      Dedup.admissionArtifacts(df, "doc_id", "text", 3, 16)
    art(docsSmall).write.parquet(s"$stateDir/seed/art")
    (0L to 2L).foreach { i =>
      art(docsSmall.filter(col("doc_id") % 3 === i))
        .write.parquet(s"$stateDir/b$i/art")
    }
    val expected = spark.read.parquet(
        AdmissionState.parts(stateDir, 3L).map(_ + "/art"): _*)
      .orderBy("doc_id").collect().toSeq
    val e = AdmissionState.acquireWriter(stateDir)
    assert(AdmissionState.fold(spark, stateDir, upTo = 0L, Seq("art"), e))
    // simulate the crash leak: fold=0 published but seed/b0 retire lost
    art(docsSmall).write.parquet(s"$stateDir/seed/art")
    art(docsSmall.filter(col("doc_id") % 3 === 0))
      .write.parquet(s"$stateDir/b0/art")
    // leaked dirs are invisible to readers (fold horizon covers them)…
    assert(AdmissionState.parts(stateDir, 3L) ==
      Seq(s"$stateDir/fold=0", s"$stateDir/b1", s"$stateDir/b2"))
    // …and the NEXT fold retires them along with its own inputs
    assert(AdmissionState.fold(spark, stateDir, upTo = 1L, Seq("art"), e))
    assert(!Files.exists(Paths.get(stateDir, "seed")))
    assert(!Files.exists(Paths.get(stateDir, "b0")))
    assert(!Files.exists(Paths.get(stateDir, "fold=0")))
    assert(AdmissionState.parts(stateDir, 3L) ==
      Seq(s"$stateDir/fold=1", s"$stateDir/b2"))
    assert(spark.read.parquet(
        AdmissionState.parts(stateDir, 3L).map(_ + "/art"): _*)
      .orderBy("doc_id").collect().toSeq == expected,
      "self-healing fold lost or duplicated rows")
  }

  test("containment leg: both quoted-inside directions caught, floor and df-cap honored") {
    CacheScope.withScope { implicit scope =>
      val mk = (n: Int, seed: Int) => (1 to n).map(i => s"tok${seed}_$i").mkString(" ")
      val small = mk(20, 1)                      // 18 shingles
      val big = mk(60, 2) + " " + small + " " + mk(60, 3)
      val tiny = mk(8, 4)                        // 6 shingles — under floor
      val state = Seq((1L, small), (2L, mk(50, 5)), (3L, tiny))
        .toDF("doc_id", "text")
      val stateArt = Dedup.admissionArtifacts(state, "doc_id", "text", 3, 16)
      val cposts = Dedup.containmentPostings(stateArt, maxDf = 10)
      // batch: (10) big doc quoting state doc 1 whole — ref-in-incoming;
      // (11) a verbatim 15-token slice of state doc 2 — incoming-in-ref;
      // (12) unrelated; (13) quotes the under-floor tiny doc — no flag
      val slice = mk(50, 5).split(" ").take(15).mkString(" ")
      val batch = Seq((10L, big), (11L, slice),
          (12L, mk(40, 9)), (13L, mk(30, 8) + " " + tiny))
        .toDF("doc_id", "text")
      val batchArt = Dedup.admissionArtifacts(batch, "doc_id", "text", 3, 16)
      val hit = Dedup.containedIds(batchArt, cposts,
          tauNum = 4, tauDen = 5, minShingles = 10)
        .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
      assert(hit == Seq(10L, 11L), s"containment hits: $hit")
      // df-cap: a shingle in >maxDf state docs leaves postings AND n_b
      val boiler = (1 to 12).map(i => (100L + i,
        "common boiler plate text here " + mk(5, 20 + i))).toDF("doc_id", "text")
      val bArt = Dedup.admissionArtifacts(boiler, "doc_id", "text", 3, 16)
      val bPosts = Dedup.containmentPostings(bArt, maxDf = 10)
      val boilerShingles = bArt.filter(col("doc_id") === 101L)
        .select(explode(col("sset")).as("h"))
      // the 4 all-boilerplate shingles (from the shared 6-token prefix,
      // df=12 > 10) must be absent from the postings
      val common = bPosts.select("h").distinct()
        .join(boilerShingles, Seq("h"), "left_semi").count()
      val perDoc = bArt.filter(col("doc_id") === 101L)
        .select(size(col("sset"))).head().getInt(0)
      assert(common < perDoc, "df-capped shingles still in postings")
    }
  }

  test("recap fold: cross-batch boilerplate leaves the postings at the maintenance window") {
    import graft.text.AdmissionState
    import java.nio.file.Paths
    val base = "target/tmp/admission_recap_spec"
    graft.util.Fs.deleteRecursive(Paths.get(base))
    val stateDir = s"$base/state"
    // "common boiler plate" rides in EVERY doc across three state units
    // (4 docs per unit: within-unit df = 4 <= cap, global df = 12 > 10)
    def unit(seed: Int) = (1 to 4).map(i => ((seed * 10 + i).toLong,
      "common boiler plate here now " +
        (1 to 15).map(j => s"tok${seed}_${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    def art(df: DataFrame) =
      Dedup.admissionArtifacts(df, "doc_id", "text", 3, 16)
    val cap = 10
    Seq(("seed", unit(1)), ("b0", unit(2)), ("b1", unit(3))).foreach {
      case (name, df) =>
        val a = art(df)
        a.write.parquet(s"$stateDir/$name/art")
        // seed cpost capped within the seed; batches append raw — the
        // the gate core's exact layout
        (if (name == "seed") Dedup.containmentPostings(a, cap)
         else a.select(col("doc_id").as("ref_id"),
             explode(col("sset")).as("h"),
             size(col("sset")).cast("long").as("n_b")))
          .write.parquet(s"$stateDir/$name/cpost")
    }
    val boilerH = art(unit(1)).select(explode(col("sset")).as("h"))
      .join(art(unit(2)).select(explode(col("sset")).as("h")), Seq("h"),
        "left_semi").distinct() // shingles shared across units = boilerplate
    val nBoiler = boilerH.count()
    assert(nBoiler >= 2, s"fixture needs cross-unit shingles, got $nBoiler")
    def postedBoiler(): Long = spark.read.parquet(
        AdmissionState.parts(stateDir, 99L).map(_ + "/cpost"): _*)
      .select("h").distinct().join(boilerH, Seq("h"), "left_semi").count()
    // before maintenance: the raw batch appends still carry them
    assert(postedBoiler() == nBoiler)
    val e = AdmissionState.acquireWriter(stateDir)
    assert(Dedup.foldWithRecappedPostings(spark, stateDir, upTo = 1L,
      otherSubs = Seq("art"), maxDf = cap, epoch = e))
    assert(AdmissionState.parts(stateDir, 99L) == Seq(s"$stateDir/fold=1"))
    // after: global df = 12 > 10 — boilerplate gone from the postings
    assert(postedBoiler() == 0L,
      "recap fold left globally-hot shingles in the posting state")
    // and the per-doc tables are untouched rows (art folded verbatim)
    assert(spark.read.parquet(s"$stateDir/fold=1/art").count() == 12)
  }

  test("after bootstrap, a trigger's verdict scans ONLY state tables — never reference text") {
    val (existing, incoming) = fixture
    val base = "target/tmp/admission_state_spec"
    graft.util.Fs.deleteRecursive(java.nio.file.Paths.get(base))
    // bootstrap exactly as AdmissionGateCore.bootstrap does
    existing.write.parquet(s"$base/ref/seed")
    val seedArt = Dedup.admissionArtifacts(existing, "doc_id", "text", 3, 16)
    seedArt.write.parquet(s"$base/state/seed/art")
    seedArt.select(explode(col("sset")).as("h")).distinct()
      .write.parquet(s"$base/state/seed/sh")
    CacheScope.withScope { implicit scope =>
      val stateArt = spark.read.parquet(s"$base/state/seed/art")
      val stateSh = spark.read.parquet(s"$base/state/seed/sh")
      val batchArt = scope.persist(
        Dedup.admissionArtifacts(incoming, "doc_id", "text", 3, 16)).toDF()
      val verdict = AdmissionGate.triggerVerdict(
        incoming, batchArt, stateArt, stateSh, fused = true)
      val scans = verdict.queryExecution.optimizedPlan.collect {
        case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
          fs.location.rootPaths.map(_.toString)
      }.flatten
      assert(scans.nonEmpty, "expected file scans in the verdict plan")
      scans.foreach { p =>
        assert(p.contains("/state/") || p.contains("documents.parquet"),
          s"verdict scans a non-state path: $p")
        assert(!p.contains("/ref/"),
          s"verdict re-reads reference text: $p")
      }
      // and the state scans never project a text column
      verdict.queryExecution.optimizedPlan.collect {
        case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
            if fs.location.rootPaths.exists(_.toString.contains("/state/")) => lr
      }.foreach { lr =>
        assert(!lr.output.map(_.name).contains("text"),
          s"state scan carries a text column: ${lr.output.map(_.name)}")
      }
    }
  }

  test("checkpoint canonical identity: URI form is trailing-slash, case and dot-segment insensitive") {
    assert(StateDir.checkpointCanon("hdfs://nn/path/") ==
      StateDir.checkpointCanon("hdfs://nn/path"))
    assert(StateDir.checkpointCanon("HDFS://NN/path") ==
      StateDir.checkpointCanon("hdfs://nn/path"))
    assert(StateDir.checkpointCanon("s3a://bucket") ==
      StateDir.checkpointCanon("s3a://bucket/"))
    assert(StateDir.checkpointCanon("hdfs://nn/a/../b/") ==
      StateDir.checkpointCanon("hdfs://nn/b"))
    assert(StateDir.checkpointCanon("hdfs://nn/path") !=
      StateDir.checkpointCanon("hdfs://nn/path2"))
  }

  test("semantic leg skips HOT state buckets (the m7 cap) and still catches cool-bucket paraphrase") {
    // synthetic semb frames pin the cap behavior exactly: 257 reference
    // docs share bucket 1 (degenerate boilerplate vectors), 2 sit in
    // bucket 2. A batch doc at cosine 1 against the hot bucket must NOT
    // flag (the cap excludes the bucket); the cool-bucket twin must.
    val (existing, incoming0) = fixture
    val incoming = incoming0.limit(4)
    CacheScope.withScope { implicit scope =>
      val stateArt = Dedup.admissionArtifacts(existing, "doc_id", "text", 3, 16)
      val batchArt = scope.persist(
        Dedup.admissionArtifacts(incoming, "doc_id", "text", 3, 16)).toDF()
      val batchIds = incoming.select("doc_id").orderBy("doc_id")
        .collect().map(_.getLong(0))
      val vec = (1 to 64).map(_.toDouble)
      val sEmb = ((1 to 257).map(i => (i.toLong, 1L, vec)) ++
          Seq((900L, 2L, vec), (901L, 2L, vec)))
        .toDF("ref_id", "bucket", "vec")
      val bEmb = Seq((batchIds(0), 1L, vec), (batchIds(1), 2L, vec),
          (batchIds(2), 3L, vec))
        .toDF("doc_id", "bucket", "vec")
      val verdict = AdmissionGate.triggerVerdict(
          incoming, batchArt, stateArt,
          stateArt.select(explode(col("sset")).as("h")).distinct(),
          fused = true, semb = Some((bEmb, sEmb)))
        .select("doc_id", "semantic_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(!verdict(batchIds(0)),
        "hot-bucket (occupancy 257 > cap 256) match must be skipped")
      assert(verdict(batchIds(1)),
        "cool-bucket cosine-1 match must flag semantic_dup")
      assert(!verdict(batchIds(2)), "empty bucket must not flag")
    }
  }

  test("runner maintenance fold re-caps postings globally and re-buckets embeddings under the grown plane dial") {
    import graft.ml.Similarity
    val base = "target/tmp/admission_growth_spec"
    graft.util.Fs.deleteRecursive(java.nio.file.Paths.get(base))
    val seed = docs.filter(col("doc_id") < 200)
    // 4 waves with foldThreshold=1 force folds mid-stream; the last
    // wave plants a token-reversed paraphrase of a WAVE-0 doc, so the
    // catch depends on state written BEFORE the growth fold surviving
    // the re-bucket consistently
    val later = docs.filter(col("doc_id") >= 200 && col("doc_id") < 420)
    val w0 = later.filter(col("doc_id") % 4 === 0)
    val w3 = later.filter(col("doc_id") % 4 === 3)
      .unionByName(w0.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 8000000L).as("doc_id"),
          concat_ws(" ", reverse(Dedup.tokens(col("text")))).as("text")))
    val waves = Seq(w0, later.filter(col("doc_id") % 4 === 1),
      later.filter(col("doc_id") % 4 === 2), w3)
    val core = new AdmissionGateCore(base, fused = true, hasBench = false,
      containment = true, semantic = true, media = false,
      hasBenchMedia = false, semPlanes0 = Similarity.hyperplanes(2, 64),
      foldThreshold = 1)
    core.bootstrap(spark, seed, None, None)
    val epoch = graft.text.AdmissionState.acquireWriter(core.stateDir)
    waves.zipWithIndex.foreach { case (w, id) =>
      core.applyBatch(spark, epoch, w, id.toLong)
    }
    val out = spark.read.parquet(core.outDir)
    // every paraphrase plant whose ORIGINAL was admitted (and is
    // therefore in the embedding state) was caught across the growth
    // folds — originals refused by other legs never entered state, so
    // their plants are legitimately novel
    val res = out.select("doc_id", "semantic_dup", "admitted").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    val plantIds = res.keys.filter(_ >= 8000000L).toSeq
    val catchable = plantIds.filter(p => res.get(p - 8000000L).exists(_._2))
    assert(catchable.size >= 3,
      s"fixture needs admitted originals, got ${catchable.size}")
    catchable.foreach(p => assert(res(p)._1,
      s"plant $p of an admitted original must be caught across growth folds"))
    // newest fold: emb buckets are consistent under ONE grown dial
    val folds = new java.io.File(s"$base/state").listFiles()
      .map(_.getName).filter(_.startsWith("fold="))
      .map(_.stripPrefix("fold=").toLong)
    assert(folds.nonEmpty, "foldThreshold=1 over 4 waves must fold")
    val foldEmb = spark.read.parquet(
      s"$base/state/fold=${folds.max}/emb")
    val ctr = spark.read.parquet(s"$base/state/center")
      .collect()(0).getSeq[Double](0).toSeq
    val consistentAt = (2 to 12).filter { p =>
      foldEmb.filter(col("bucket") =!=
        Similarity.lshBucket(Similarity.unitCentered(col("vec"), ctr),
          Similarity.hyperplanes(p, 64)))
        .isEmpty
    }
    assert(consistentAt.nonEmpty,
      "folded emb buckets must derive from one plane set")
    assert(consistentAt.head > 2,
      s"plane dial must have GROWN past the bootstrap 2 " +
        s"(ref ~${foldEmb.count()} docs wants ceil(log2(n/16))); " +
        s"got $consistentAt")
    // and the folded postings are globally re-capped: rebuilding from
    // the folded artifacts under the production cap changes nothing
    val foldArt = spark.read.parquet(s"$base/state/fold=${folds.max}/art")
    val rebuilt = Dedup.containmentPostings(foldArt, 10)
    val foldCp = spark.read.parquet(s"$base/state/fold=${folds.max}/cpost")
    assert(foldCp.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(foldCp).isEmpty,
      "maintenance fold must publish globally re-capped postings")
  }

  test("torn fold: a crash BETWEEN the fold rewrite and the state append resumes to verdicts identical to an uninterrupted run") {
    // The crash window the fold's atomicity claim never proved (r17
    // verdict, Next #4): the maintenance fold PUBLISHED (state below
    // the frontier compacted, re-capped, re-bucketed under the grown
    // dial) but the folding batch's own appends never landed and its
    // checkpoint never committed. A restart must (a) re-derive the
    // grown dial from the newest fold (resumeDials), (b) replay the
    // SAME batch id against the folded state (reads are strictly below
    // the frontier, so the replay is deterministic), and (c) continue
    // to verdicts identical to a run that never crashed — across the
    // FULL axis set, so the recap (cpost) and re-bucket (emb) rewrites
    // are both in the replayed read path.
    import graft.ml.Similarity
    val seed = docs.filter(col("doc_id") < 100)
    val bench = docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
    def wave(i: Int): DataFrame =
      if (i < 8)
        docs.filter(col("doc_id") >= 100 + 50 * i &&
          col("doc_id") < 100 + 50 * (i + 1) && col("doc_id") < 500)
      else // post-fold batch: token-reversed paraphrases of seed docs
        // (semantic-leg catches that depend on pre-fold state read
        // back through the folded, re-bucketed emb table)
        seed.filter(col("doc_id") % 30 === 0 && length(col("text")) > 120)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat_ws(" ", reverse(Dedup.tokens(col("text")))).as("text"))
    def mkCore(base: String) = new AdmissionGateCore(
      base, fused = true, hasBench = true, containment = true,
      semantic = true, media = true, hasBenchMedia = true,
      semPlanes0 = Similarity.hyperplanes(2, AdmissionGate.Dim))
    def run(base: String, crash: Boolean): Int = {
      graft.util.Fs.deleteRecursive(java.nio.file.Paths.get(base))
      var core = mkCore(base)
      core.bootstrap(spark, seed, Some(bench), Some(bench))
      var epoch = graft.text.AdmissionState.acquireWriter(s"$base/state")
      var resumedDial = -1
      var fired = false
      (0 to 8).foreach { i =>
        val willFold =
          graft.text.AdmissionState.parts(s"$base/state", i).size > 6
        if (crash && willFold && !fired) {
          fired = true
          core.failAfterFold = true
          intercept[IllegalStateException](
            core.applyBatch(spark, epoch, wave(i), i))
          // the restart: a fresh core re-derives its dials from the
          // published fold, a fresh epoch supersedes the corpse, and
          // the uncommitted batch id replays
          core = mkCore(base)
          assert(core.bootstrapped)
          core.resumeDials(spark)
          resumedDial = core.currentPlaneCount
          epoch = graft.text.AdmissionState.acquireWriter(s"$base/state")
        }
        core.applyBatch(spark, epoch, wave(i), i)
      }
      if (crash) {
        assert(fired, "fixture must reach the fold threshold")
        assert(resumedDial > 2,
          s"the resumed dial must re-derive as GROWN from the torn " +
            s"fold (got $resumedDial)")
      }
      core.currentPlaneCount
    }
    val ref = "target/tmp/tornfold_ref"
    val crashed = "target/tmp/tornfold_crash"
    val refDial = run(ref, crash = false)
    val crashDial = run(crashed, crash = true)
    assert(refDial == crashDial,
      "both runs must end at the same plane dial")
    def snap(base: String): Seq[String] =
      spark.read.parquet(s"$base/out").collect()
        .map(_.toString).sorted.toSeq
    val (a, b) = (snap(ref), snap(crashed))
    assert(a.nonEmpty && a == b,
      s"resumed verdicts must be identical to the uninterrupted run's " +
        s"(${a.size} vs ${b.size} rows)")
    // the post-fold semantic catches survived the torn-fold resume
    val para = spark.read.parquet(s"$crashed/out")
      .filter(col("doc_id") >= 1000000L)
    assert(para.count() >= 2 &&
      para.filter(!col("semantic_dup")).count() == 0,
      "post-resume paraphrase plants must flag semantic_dup")
  }

  test("inParallel awaits EVERY write before re-throwing the first failure (no in-flight sibling after return)") {
    // r19 hardening: a fail-fast await could return while a sibling
    // write is still running, letting the caller's cleanup (unpersist,
    // state reset) race a live write. The slow sibling must have
    // COMPLETED by the time inParallel throws.
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boom = intercept[IllegalStateException] {
      AdmissionGate.inParallel(Seq(
        () => throw new IllegalStateException("fast failure"),
        () => { Thread.sleep(500); slowDone.set(true) }))
    }
    assert(boom.getMessage == "fast failure")
    assert(slowDone.get(),
      "inParallel returned while a sibling write was still in flight")
    // multiple failures: the first (in declaration order) propagates
    val boom2 = intercept[RuntimeException] {
      AdmissionGate.inParallel(Seq(
        () => { Thread.sleep(200); throw new RuntimeException("second") },
        () => throw new RuntimeException("first-to-fail")))
    }
    assert(boom2.getMessage == "second",
      "declaration-order first failure must propagate deterministically")
  }

  test("readStateTable pins a sub-table schema JVM-wide and REFUSES a dir whose footer schema forked from it") {
    import spark.implicits._
    val base = "target/tmp/schema_memo_fork"
    graft.util.Fs.deleteRecursive(java.nio.file.Paths.get(base))
    // a synthetic sub-table name no gate uses, so the JVM-wide memo
    // entry this test creates can never poison a real gate's reads
    val sub = "spec_forked_sub"
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.parquet(s"$base/d1/$sub")
    Seq((2L, "b")).toDF("doc_id", "text")
      .write.parquet(s"$base/d2/$sub")
    // doc_id renamed: the forked-schema shape the memo must refuse
    Seq((3L, "c")).toDF("other_id", "text")
      .write.parquet(s"$base/d3/$sub")
    val first = AdmissionGate.readStateTable(spark, sub, Seq(s"$base/d1/$sub"))
    assert(first.schema.fieldNames.toSeq == Seq("doc_id", "text"))
    // same schema in a new dir: verified once, reads fine
    assert(AdmissionGate.readStateTable(spark, sub,
      Seq(s"$base/d2/$sub")).count() == 1)
    // forked schema in a new dir: the first read there must refuse
    // loudly instead of silently reading doc_id as null
    val err = intercept[IllegalArgumentException] {
      AdmissionGate.readStateTable(spark, sub,
        Seq(s"$base/d3/$sub")).count()
    }
    assert(err.getMessage.contains(sub))
  }
}
