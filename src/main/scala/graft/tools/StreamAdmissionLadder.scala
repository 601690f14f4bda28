package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.LlmQueries
import graft.LlmQueries.on
import graft.pipeline.AdmissionGate

/** Per-trigger cost ladder for the streamed admission family — the
 * number behind r14's "flat batch cost as the reference grows" claim:
 * drive the admission sink with MANY equal-size waves (each admitted
 * wave grows the reference the next wave checks against) and record
 * each trigger's wall millis (the streaming query's own
 * triggerExecution metric). With the incremental state tables,
 * per-trigger cost must stay ~flat from the first wave to the last;
 * the old full-rescan form grew linearly with the reference.
 *
 * Every mode is a set of sink keys over the ONE admission lifecycle
 * ([[graft.LlmQueries.drainAdmissionGate]] — an in-process Engine at 4
 * shuffle partitions, like every admission gate): `plain` = w12's
 * dedup verdict, `fused` = w14's (default), `media` = m22's
 * (per-batch pack + decode + fingerprint checked against the
 * fingerprint state tables), `mediadecont` = m24's (+ the frozen
 * benchmark-media fingerprint leg), `full` = w16's 6-leg text gate,
 * `semantic` = w17's complete 7-leg gate (adds the LSH-bucketed
 * embedding leg at the corpus-scaled plane dial, growing at the
 * maintenance folds), `sink` = the full ten-axis gate (w18/l14), and
 * `wire` = the plain gate fed through the wire transport (l15's CDC
 * envelope inside the C1 JSON envelope, decoded by the converter +
 * unwrap SMT per trigger; the decode-parallelism dial comes from
 * $GRAFT_WIRE_DECODE_PAR, unset = single-task decode). The benchmark
 * corpus of the decontamination legs is every 10th seed doc. Args:
 * sfDir [waves] [mode]. Prints one JSON line.
 *
 * Usage:
 *   sbt -batch "runMain graft.tools.StreamAdmissionLadder /root/testdata/sf0.1 8 fused"
 */
object StreamAdmissionLadder {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val waves = if (args.length > 1) args(1).toInt else 8
    val mode = if (args.length > 2) args(2) else "fused"
    require(Set("plain", "fused", "media", "mediadecont", "full",
      "semantic", "sink", "wire")(mode), s"bad mode $mode")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // recentProgress is a ring buffer (default 100 entries): size it
      // to the wave count so a long ladder keeps its earliest rungs
      .config("spark.sql.streaming.numRecentProgressUpdates",
        (waves + 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // seed = the first half (by rank, robust to sparse ids at sf1);
    // waves = the rest in `waves` equal random-ish slices, so every
    // admitted wave grows the reference by ~|wave| while the batch
    // size stays constant — exactly the shape the flatness claim needs
    val n = docs.count()
    // global rank via distributed range sort + zipWithIndex (the
    // strideSeeds pattern) — never a single-partition Window.orderBy
    val ranked = spark.createDataFrame(
      docs.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
        .rdd.zipWithIndex()
        .map { case (r, i) => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      docs.schema.add("_r", org.apache.spark.sql.types.LongType))
    val seed = ranked.filter(col("_r") < n / 2).drop("_r")
    val rest = ranked.filter(col("_r") >= n / 2)
    val waveFrames = (0 until waves).map(i =>
      rest.filter(pmod(col("_r"), lit(waves)) === i).drop("_r"))
    val t0 = System.nanoTime()
    val base = s"target/tmp/ladder_admission_${new java.io.File(sfDir).getName}"
    val planes = "semPlanes" -> AdmissionGate.scaledPlaneCount(n).toString
    val (axes, benchKeys) = mode match {
      case "fused" => (on("fused"), Nil)
      case "media" => (on("media"), Nil)
      case "mediadecont" => (on("media"), Seq("benchMediaPath"))
      case "full" => (on("fused", "containment"), Seq("benchPath"))
      case "semantic" =>
        (on("fused", "containment", "semantic") :+ planes, Seq("benchPath"))
      case "sink" =>
        (on("fused", "containment", "semantic", "media") :+ planes,
          Seq("benchPath", "benchMediaPath"))
      case _ => (Nil, Nil) // plain, wire
    }
    val keys = axes ++ benchKeys.map(_ -> s"$base/bench")
    val stage = LlmQueries.stageGateFixture(base, seed,
      if (benchKeys.isEmpty) None
      else Some(seed.filter(col("doc_id") % 10 === 0)),
      if (mode == "wire") waveFrames.map(LlmQueries.wireWave(_))
      else waveFrames)
    waveFrames.indices.foreach(stage)
    val timings = LlmQueries.drainAdmissionGate(spark, base,
      LlmQueries.admissionSpecJson("ladder", base, keys,
        wire = mode == "wire",
        decodeParallelism = sys.env.get("GRAFT_WIRE_DECODE_PAR")
          .filter(_ => mode == "wire")))
    val total = (System.nanoTime() - t0) / 1000000L
    val sorted = timings.sortBy(_._1)
    val perTrigger = sorted.map(_._2)
    val waveSize = (n - n / 2) / waves
    val refSizes = sorted.map { case (id, _) => n / 2 + id * waveSize }
    def arr(xs: Seq[Long]) = xs.mkString("[", ",", "]")
    // slope: last-trigger cost over first-trigger cost — ~1.0 = flat
    val slope = if (perTrigger.head > 0)
      perTrigger.last.toDouble / perTrigger.head else -1.0
    println(s"""{"tool":"stream_admission_ladder","sf":"${
      new java.io.File(sfDir).getName}","waves":$waves,"mode":"$mode",""" +
      s""""docs":$n,"seed_docs":${n / 2},"wave_docs":$waveSize,""" +
      s""""per_trigger_ms":${arr(perTrigger.toSeq)},""" +
      s""""ref_docs_at_trigger":${arr(refSizes.toSeq)},""" +
      f""""last_over_first":$slope%.3f,"total_ms":$total}""")
    spark.stop()
  }
}
