package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the target scale factor
  * and prints a JSON metric line. A warmup pass at sf0.001 first pays the
  * one-time JVM/codegen/parquet-footer costs so the timed numbers measure
  * the queries, not session bring-up.
  *
  * INCREMENTAL OUTPUT (r17, the r16 lesson): the r16 official artifact
  * came back `rc: 124, parsed: null` because the driver's wall cap killed
  * the run and the single end-of-run JSON line lost every number already
  * measured. Now a compact cumulative metric line (top-K slowest queries,
  * budgeted to fit the harness's last-2000-chars capture window together
  * with any trailing log noise) is printed after EVERY timed measurement,
  * and a JVM shutdown hook re-prints the latest one on SIGTERM — so a
  * timeout still yields a parsed artifact carrying every gate measured up
  * to the kill. The full-precision map is additionally rewritten to
  * target/bench_full.json after each measurement for local archiving. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: a stray WARN burst after the final metric line
    // could push it out of the harness's 2000-char capture window
    spark.sparkContext.setLogLevel("ERROR")
    // Optional args = subset of query names to run (local iteration);
    // the driver passes none and gets the bench population (the full
    // suite minus SparkEntry.benchSuperseded — every superseded fixture
    // rung stays in Verify where correctness is cheap, but bench wall
    // no longer pays rungs whose trained/production sibling times the
    // same plan shape at the same SF).
    val names =
      if (args.nonEmpty) args.toSeq.filter(SparkEntry.queries.contains).distinct.sorted
      else SparkEntry.queries.keys.toSeq.filterNot(SparkEntry.benchSuperseded).sorted
    // locale-pinned formatting: the driver parses this line as JSON, and
    // a comma-decimal default locale would corrupt it
    def fmt(dec: Int, v: Double): String =
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))
    // Gates whose cost lives in columns a bare count() lets Catalyst
    // prune — aggregate expressions under groupBy/rollup/cube/window
    // (count needs only the keys) and expensive narrow projections
    // (x23's embedding kernel read ~0.2 s at ANY SF). These consume
    // through a checksum over every output column — nothing prunable,
    // one row back to the driver. Set audited empirically
    // (sf0.1 consume/count ratio >= 1.4, archived in
    // bench/prune_audit_r12.csv); their numbers re-baseline at r12
    // (bench/watchitems_r12.md) — compare r12+ values against
    // BENCH_r12, not earlier rounds.
    val consumeAll: Set[String] = Set(
      "q1_agg", "q2_join_broadcast", "q4_rollup", "q7_asof_join",
      "q13_window_frames", "q14_cube", "d9_chunk_dedup", "d10_semdedup",
      "e13b_ann_recall_trained", "m6_image_phash_dedup",
      "m11_video_fp_dedup", "x2_quality_score", "x5_repetition",
      "x13_mix_report", "x15_quality_classifier", "x19_gopher_rules",
      "x23_hashed_embedding",
      // r12 additions over the 1.4 cutoff (bench/prune_audit_r12b.csv
      // at sf0.1: q21 4.2, m17 2.9, q20 1.6)
      "m17_video_scene_cuts", "q20_percentile", "q21_range_window")
    def consume(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      if (consumeAll(name))
        df.select(org.apache.spark.sql.functions.expr(
          s"bit_xor(xxhash64(struct(${df.columns.map(c => s"`$c`").mkString(",")})))"))
          .collect()
      else df.count()
    // Streaming-commit / localCheckpoint-barrier gates: their wall is
    // dominated by fixed per-trigger commit and barrier floors that
    // swing up to 3.5x run-over-run with scheduler luck, not plan cost
    // (bench/watchitems_r12.md: the driver read d13 at 7.02 s where the
    // matched-canary archive reads 2.03 s — same code, same SF). These
    // get up to TWO EXTRA timed reps (min over up to 4 samples instead
    // of 2), so the archived number converges on the floor.
    val barrierGates: Set[String] = Set(
      "w4_stream_stream_join", "w7_stream_dedup", "w8_stream_outer_join",
      "w9_late_data_drop", "w10_stream_ann_serve",
      "w11_stream_serve_from_store", "w12_stream_dedup_admission",
      "w13_stream_maintenance_plans", "w14_stream_curation_admission",
      "d8_dup_clusters_star", "d13_incremental_dedup",
      "m13_image_near_dedup_verdict", "m14_audio_near_dedup_verdict",
      "m15_video_near_dedup_verdict", "s7b_snapshot_stream_handoff",
      "s8_pg_cdc", "e33_reindex_cutover",
      // r15: the whole multi-trigger admission family — trigger-0
      // codegen warmup is 2.4-4x steady state (r14 ladder), so 2-rep
      // minima measured warmup luck, not the operator
      "w15_stream_decontaminated_admission",
      "w16_stream_contained_admission", "w17_stream_semantic_admission",
      "m22_multimodal_admission", "m24_media_decontaminated_admission",
      "w18_stream_full_admission", "l13_admission_pipeline",
      "l14_admission_pipeline_full", "l15_admission_framed_smt",
      "l16_admission_gate_dlq",
      // r16: the documented JVM codegen-eviction victims — a full GC
      // elsewhere in the suite unloads their generated classes and a
      // 2-rep min still reads the recompile, not the operator
      // (BENCH_r15 carried x25 at 53.46 s vs its archived 1.56 s;
      // j1/k7/k10/e9c re-read in-band in isolation,
      // bench/sf1_eviction_recheck_r15.json; k9 flagged 6.19 s vs a
      // 1.4 s history in bench/watchitems_r15.md)
      "x25_span_dedup_repair", "k7_cdc_ingest_dml",
      "k7b_cdc_engine_stream", "k9_jdbc_statements",
      "k9b_upsert_sql_dialects", "k10_db_to_db_live",
      "j1_json_functions", "e9c_knn_graph_scaled")
    // The eviction-victim SUBSET keeps unconditional min-of-4 (r18): a
    // GC can hit between pass 1 and pass 2, both reps read a similar
    // recompile cost, "agree" within 12% and the early-stop would lock
    // in the inflated floor — exactly the outlier mode the extra reps
    // were added for. The early-stop stays for the multi-trigger
    // admission gates, where trigger-0 warmup is the only outlier mode
    // and any two post-warmup samples genuinely prove the floor.
    val evictionVictims: Set[String] = Set(
      "x25_span_dedup_repair", "k7_cdc_ingest_dml",
      "k7b_cdc_engine_stream", "k9_jdbc_statements",
      "k9b_upsert_sql_dialects", "k10_db_to_db_live",
      "j1_json_functions", "e9c_knn_graph_scaled")
    // Barrier gates SKIP the warmup passes: they take min over their
    // timed reps, so their first rep IS the warmup (trigger-0 codegen is
    // 2.4-4x steady and converges by rep 2 — r14 ladder), and running
    // every multi-trigger streaming gate twice more at tiny SFs cost
    // the suite ~10+ minutes of wall for numbers the min never reads.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { wd =>
      names.filterNot(barrierGates).foreach { n =>
        try consume(n, SparkEntry.queries(n)(spark, wd))
        catch { case _: Throwable => () }
      }
    }
    // NOTE: do NOT force GC between queries — measured 61s -> 71s
    // suite-wide: a full GC unloads weakly-reachable generated classes
    // and their JIT-compiled code, so every later query recompiles.
    // The large heap (build.sbt) exists precisely to keep natural GC —
    // and that eviction — rare across the suite.
    val runT0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - runT0) / 1e9
    System.err.println(f"[bench-time] warmups done, timed run starts")
    // ---- incremental result state --------------------------------------
    // best value per gate (min over reps so far) + the run-elapsed second
    // at which that best rep ENDED (t_at): together with the canary
    // series below this gives every gate a load-at-measurement reading,
    // closing the r16 "min-of-3 canary understates an 80-minute run's
    // slow window" caveat (bench/watchitems_r16.md).
    val best = scala.collection.mutable.Map[String, Double]()
    val tAt = scala.collection.mutable.Map[String, Double]()
    val canarySeries = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    @volatile var lastLine = ""
    // Compact cumulative metric line: top-K slowest at 2 decimals inside
    // a 900-char budget — small enough that the 2000-char capture window
    // always holds one complete line even with a partial line and some
    // shutdown log noise after it. Extra fields ("done"/"of") mark
    // partials loudly; the omitted tail is summarized, never silent.
    def progressLine(): String = {
      val done = best.toSeq
      val total = done.map(_._2).filter(_ >= 0).sum
      val canary = if (canarySeries.isEmpty) -1.0 else canarySeries.map(_._2).min
      val sorted = done.sortBy { case (n, v) => (-v, n) }
      def lineK(k: Int): String = {
        val kept = sorted.take(k)
        val om = sorted.drop(k)
        val qs = kept.map { case (n, v) => "\"" + n + "\":" + fmt(2, v) }
          .mkString("{", ",", "}")
        s"""{"metric":"total","value":${fmt(3, total)},"unit":"sec","canary":${fmt(3, canary)},"done":${done.size},"of":${names.size},"queries":$qs,""" +
          s""""queries_omitted":${om.size},"omitted_sec":${fmt(3, om.map(_._2).filter(_ >= 0).sum)},"sf":"$sfDir"}"""
      }
      var k = sorted.size
      while (k > 1 && lineK(k).length > 900) k -= 1
      lineK(k)
    }
    var reloaded = 0 // gates re-measured by the load-bias self-heal
    def fullJson(): String = {
      val qs = best.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val ts = tAt.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(1, v) }.mkString("{", ",", "}")
      val cs = canarySeries.map { case (t, c) => s"[${fmt(1, t)},${fmt(3, c)}]" }
        .mkString("[", ",", "]")
      val total = best.values.filter(_ >= 0).sum
      val canary = if (canarySeries.isEmpty) -1.0 else canarySeries.map(_._2).min
      s"""{"metric":"total","value":$total,"unit":"sec","canary":$canary,"reloaded":$reloaded,"queries":$qs,"t_at":$ts,"canary_series":$cs,"sf":"$sfDir"}"""
    }
    def writeFull(): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("target/bench_full.json"), fullJson().getBytes)
      catch { case _: Throwable => () }
    def emit(): Unit = {
      lastLine = progressLine()
      println(lastLine)
      writeFull()
    }
    // On SIGTERM (the driver timeout) re-print the newest cumulative line:
    // shutdown may interleave multi-KB Spark stack traces into stdout (the
    // r16 tail was ONLY such a trace), and a fresh print is the best shot
    // at landing a complete metric line inside the capture window.
    sys.addShutdownHook {
      if (lastLine.nonEmpty) { println(lastLine); Console.out.flush() }
    }
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      val ok = try { consume(name, SparkEntry.queries(name)(spark, sfDir)); true }
               catch { case _: Throwable => false }
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    def record(name: String, v: Double): Unit = {
      val better = best.get(name) match {
        case None    => true                      // first sample, even a failure
        case Some(c) => c < 0 || (v >= 0 && v < c) // any success beats -1; else min
      }
      if (better) { best(name) = v; tAt(name) = elapsed() }
      emit()
    }
    // Calibration CANARY: a fixed-size synthetic scan+shuffle+agg using
    // no repo operators and no input data — its wall time is a pure
    // function of machine speed/load, so round-over-round bench
    // comparisons can divide ambient drift out of per-query deltas
    // (driver totals moved +16% across r8->r9 with zero implicated
    // code). r17: sampled as a SERIES through the run (~ every 2 min of
    // wall between gates) instead of 3 point samples — an 80-minute
    // run's min-of-3 misses its slow window (bench/watchitems_r16.md);
    // the headline "canary" stays the series MIN for round-over-round
    // continuity, and the full archive carries the series + per-gate
    // t_at so any gate can be read against load-at-measurement.
    // The per-key aggregates are CONSUMED through a one-row global fold
    // (collected) — under a bare count() Catalyst's column pruning
    // eliminated the sum(h)/sum(h2) aggregates and the hash projections
    // feeding them, so the canary measured only scan+shuffle of the
    // group key. Compare r11+ values against BENCH_r11's baseline.
    def canaryOnce(): Double = {
      import org.apache.spark.sql.functions.{count, lit, sum}
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, 32)
        .selectExpr("id % 1000 AS k", "hash(id) AS h",
          "hash(id * 2654435761) AS h2")
        .groupBy("k")
        .agg(sum("h").as("sh"), sum("h2").as("sh2"),
          count(lit(1)).as("c"))
        .agg(sum("sh"), sum("sh2"), sum("c"))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    var lastCanaryT = -1e9
    def maybeCanary(force: Boolean = false): Unit =
      if (force || elapsed() - lastCanaryT > 120.0) {
        val c = canaryOnce()
        canarySeries += ((elapsed(), c))
        lastCanaryT = elapsed()
      }
    canaryOnce() // pay its own codegen before the measured samples
    maybeCanary(force = true)
    // Each query is timed in TWO full passes over the suite and the MIN
    // recorded: single-shot numbers swung up to 3x with JIT/compiler
    // scheduling, and back-to-back repeats share that transient state —
    // a full pass in between decorrelates it (by pass 2 the whole
    // suite's generated code is as compiled as it will ever be).
    val pass1 = scala.collection.mutable.Map[String, Double]()
    val pass1T = scala.collection.mutable.Map[String, Double]()
    names.foreach { n =>
      maybeCanary()
      pass1(n) = once(n)
      pass1T(n) = elapsed()
      record(n, pass1(n))
    }
    System.err.println(f"[bench-time] pass1 done at ${elapsed()}%.1f s")
    maybeCanary(force = true)
    names.foreach { n =>
      maybeCanary()
      val a = pass1(n)
      val b = once(n)
      record(n, b)
      if (barrierGates(n)) {
        // Up to two extra reps, but STOP as soon as the two best samples
        // agree within 12% — the extras exist to dodge codegen-eviction
        // outliers and trigger-0 warmup, and two agreeing samples already
        // prove the floor. On the heavy admission gates (5-28 s each)
        // this saves most of a rep per gate vs r16's unconditional
        // min-of-4, which is what made the suite outgrow the driver cap.
        // Two r18 refinements:
        //  - eviction VICTIMS never early-stop (a GC between the passes
        //    can make both reps read a similar recompile cost and
        //    "agree" on an inflated floor — the exact outlier mode the
        //    extras exist for);
        //  - converged samples that BOTH landed inside a sustained load
        //    window (nearest canary sample >= 1.5x the run's series min
        //    at each rep's end time) buy ONE more rep after a fresh
        //    canary — agreement under load proves a loaded floor, not
        //    the floor (the r17 open item, bench/watchitems_r17.md).
        var reps =
          Seq((a, pass1T(n)), (b, elapsed())).filter(_._1 >= 0)
        def rep(): Unit = {
          val v = once(n)
          if (v >= 0) reps = reps :+ ((v, elapsed()))
          record(n, v)
        }
        def converged: Boolean = reps.size >= 2 && {
          val s = reps.map(_._1).sorted.take(2)
          s(1) <= s(0) * 1.12
        }
        def canaryAt(t: Double): Double =
          canarySeries.minBy { case (ct, _) => math.abs(ct - t) }._2
        def loadBiased: Boolean = canarySeries.nonEmpty && {
          val floor = canarySeries.map(_._2).min
          reps.sortBy(_._1).take(2).forall { case (_, t) =>
            canaryAt(t) >= floor * 1.5 }
        }
        var extra = 0
        while (extra < 2 && !(converged && !evictionVictims(n))) {
          rep(); extra += 1
        }
        if (!evictionVictims(n) && loadBiased) {
          maybeCanary(force = true) // pin load-at-remeasure in the series
          reloaded += 1
          rep()
        }
      }
    }
    System.err.println(f"[bench-time] pass2 done at ${elapsed()}%.1f s")
    maybeCanary(force = true)
    val results = names.map(n => n -> best.getOrElse(n, -1.0))
    val total = results.map(_._2).filter(_ >= 0).sum
    val canary = canarySeries.map(_._2).min
    def line(dec: Int): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(dec, v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(3, total)},"unit":"sec","canary":${fmt(3, canary)},"reloaded":$reloaded,"queries":$qs,"sf":"$sfDir"}"""
    }
    // CLEAN-COMPLETION FULL LINE (r17 verdict #1): every gate's number
    // on one stdout line, printed BEFORE the final compact lines so it
    // lands in the driver's raw log. It CANNOT be the last line: the
    // driver parses the metric line from a ~2000-char tail window —
    // proven forensically, not assumed: BENCH_r03.json carries a
    // complete, prefix-free, valid-JSON metric line in the full stdout
    // (~2900 chars, its tail visible in the artifact's `tail` field
    // ending `"sf":...}` right before sbt's [success] line) yet
    // `parsed: null`; from r4 on, every line under ~1950 chars parsed.
    // A >2000-char FINAL line would reproduce r3's null parse — the
    // r16-class failure — so the full map prints here and the compact
    // line stays last. (The full map also lands in target/bench_full
    // .json with t_at + canary_series for archiving.)
    println(fullJson())
    // The harness that captures this keeps only the last ~2000 chars of
    // output; the metric line must fit entirely inside that window.
    // First try the full per-query map at 3 then 2 decimals; once the
    // suite is too large for that, keep the SLOWEST queries (the ones
    // whose numbers carry information) at 2 decimals and say exactly
    // what was dropped — "queries_omitted" + their combined seconds —
    // so the truncation is loud, never silent.
    val budget = 1950
    def topLine(k: Int): String = {
      val sorted = results.sortBy { case (n, v) => (-v, n) }
      val kept = sorted.take(k)
      val om = sorted.drop(k)
      val qs = kept.map { case (n, v) => "\"" + n + "\":" + fmt(2, v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(3, total)},"unit":"sec","canary":${fmt(3, canary)},"reloaded":$reloaded,"queries":$qs,""" +
        s""""queries_omitted":${om.size},"omitted_sec":${fmt(3, om.map(_._2).filter(_ >= 0).sum)},"sf":"$sfDir"}"""
    }
    val out = Seq(line(3), line(2)).find(_.length <= budget).getOrElse {
      var k = results.size
      while (k > 1 && topLine(k).length > budget) k -= 1
      topLine(k)
    }
    writeFull()
    lastLine = out
    println(out)
    spark.stop()
    // Re-print after spark.stop(): its shutdown logging (or a late
    // executor WARN) must not be the last thing in the capture window.
    println(out)
  }
}
