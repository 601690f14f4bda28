package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.codec.JsonEnvelope
import graft.pipeline.{AdmissionSink, Engine, PipelineSpec}
import graft.sinks.LogTable

/**
 * The traced run's layer replay: the same generated files, batched the
 * way the streaming run batched them (CDC batches split further when
 * there are too few to reach a compaction), pushed through each layer's
 * public call with every boundary materialized, one span per call.
 */
object Replay {

  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  /** The CDC replay makes at least this many `applyBatch` calls, enough
   * for the LogTable to reach the 8 versions at which the Engine's
   * `logtable` sink compacts. */
  val MinBatches = 12

  /**
   * CDC replay: each streaming batch's offset range (its files' wire
   * records), split into equal offset slices when the streaming run took
   * fewer than [[MinBatches]] batches, in offset order. Each slice is
   * decoded, run through the SMT chain and applied as one LogTable
   * version; the replay compacts at 8 versions as the Engine's sink
   * does, then looks up [[Cdc.LookupKeys]] random keys through
   * `LogTable.read`, noting how many versions the read merged.
   */
  def cdc(spark: SparkSession, o: Opts, staged: IndexedSeq[Path],
          offsets: IndexedSeq[(Long, Long)], batchOf: Map[String, Long],
          maxKey: Long, tr: Tracer): Seq[Metric] = {
    val root = o.work.resolve("replay")
    Files2.rm(root)
    val sink = root.resolve("sink").toString
    val spec = PipelineSpec.fromJson(Cdc.spec(root.resolve("in"), root.resolve("sink")))
    val engine = new Engine(spark, root.resolve("engine").toString)
    val chain = spec.transforms.map(_.toTransform)
    val fileSchema = "key STRING, value STRING, topic STRING, offset BIGINT"
    val streamed = staged.indices.groupBy(i => batchOf(Stage.fileName(i))).toSeq.sortBy(_._1).map(_._2)
    val split = math.max(1, math.ceil(MinBatches.toDouble / streamed.size).toInt)
    val batches = streamed.flatMap { idx =>
      val lo = idx.map(offsets(_)._1).min
      val hi = idx.map(offsets(_)._2).max
      val step = math.ceil((hi - lo).toDouble / split).toLong
      (0 until split).map(j => (idx, lo + j * step, math.min(hi, lo + (j + 1) * step)))
        .filter(b => b._2 < b._3)
    }
    val keyRnd = new SplittableRandom(o.seed * 31 + 11)
    val reads, versionsAtRead = ArrayBuffer.empty[Double]
    var records, errors = 0L
    for (((idx, lo, hi), i) <- batches.zipWithIndex) {
      val id = i.toLong
      tr.span("replay.batch", id) {
        val raw = spark.read.schema(fileSchema).parquet(idx.map(staged(_).toString): _*)
          .filter(col("offset") >= lo && col("offset") < hi)
        val (framed, n) = tr.span("codec.decode", id)(materialize(
          engine.toFrame(raw, spec.source)))
        records += n
        errors += raw.select(JsonEnvelope.decodeClassified(col("value"), spec.source.schema.get)
          .getField("error_class").as("e")).filter(col("e").isNotNull).count()
        val (chained, _) = tr.span("smt.chain", id)(
          materialize(chain.foldLeft(framed)((df, t) => t(df))))
        tr.span("sinks.apply", id)(LogTable.applyBatch(sink, chained, Cdc.Keys, Some(id)))
        if (LogTable.versions(sink).size >= 8)
          tr.span("sinks.compact", id)(LogTable.compact(spark, sink, Cdc.Keys))
        chained.unpersist(); framed.unpersist()
        versionsAtRead += LogTable.versions(sink).size.toDouble
        reads += tr.span("sinks.lookup", id)(Cdc.lookup(spark, root.resolve("sink"),
          Seq.fill(Cdc.LookupKeys)(keyRnd.nextLong(1, maxKey + 1))))
      }
    }
    tr.span("sinks.read", -1)(LogTable.read(spark, sink, Cdc.Keys).count())
    tr.drain()
    val dec = tr.spansNamed("codec.decode")
    val per1k = 1000.0 / math.max(records, 1L)
    val applies = tr.spansNamed("sinks.apply")
    val compacts = tr.spansNamed("sinks.compact")
    val writeSpans = applies ++ compacts
    val written = writeSpans.flatMap(tr.jobsIn).distinct.map(_.bytesWritten).sum
    val perBatch = batches.indices.map { i =>
      val ss = writeSpans.filter(_.batch == i.toLong)
      (ss.flatMap(tr.plansIn).distinct, ss.flatMap(tr.jobsIn).distinct)
    }
    tr.writeSpans(o.work.resolve("spans.jsonl"))
    Seq(
      Metric("codec.decode_ms_per_1k", dec.map(tr.selfMs).sum * per1k, "ms"),
      Metric("codec.decode_tasks_per_batch",
        Stats.median(dec.map(s => tr.jobsIn(s).map(_.tasks.toDouble).sum)), "tasks"),
      Metric("codec.decode_errors", errors.toDouble, "count"),
      Metric("smt.chain_ms_per_1k", tr.spansNamed("smt.chain").map(tr.selfMs).sum * per1k, "ms"),
      Metric("sinks.apply_ms_p50", Stats.pct(applies.map(_.ms), 50), "ms"),
      Metric("sinks.apply_ms_p90", Stats.pct(applies.map(_.ms), 90), "ms"),
      Metric("sinks.plans_per_trigger", Stats.median(perBatch.map(_._1.size.toDouble)), "plans"),
      Metric("sinks.plan_ms_per_trigger", Stats.median(perBatch.map(_._1.map(_.planMs).sum)), "ms"),
      Metric("sinks.shuffle_bytes_per_trigger",
        Stats.median(perBatch.map(_._2.map(_.shuffleWrite.toDouble).sum)), "bytes"),
      Metric("sinks.compactions", compacts.size.toDouble, "count"),
      Metric("sinks.compact_ms_p50", Stats.pct(compacts.map(_.ms), 50), "ms"),
      Metric("sinks.versions_at_read_p50", Stats.pct(versionsAtRead.toSeq, 50), "versions"),
      Metric("sinks.read_ms_p50", Stats.median(reads.toSeq), "ms"),
      Metric("sinks.replay_read_ms", tr.spansNamed("sinks.read").map(_.ms).sum, "ms"),
      Metric("sinks.write_amplification",
        written / math.max(Files2.du(root.resolve("sink")).toDouble, 1.0), "ratio"))
  }

  /** Gate replay: `openGate` on a fresh root (the bootstrap), then
   * `applyBatch` over the given waves, one span each. The maintenance
   * fold runs at the head of a wave's `applyBatch` and leaves a
   * `fold=<id>` state dir (id = that wave's batch id - 1); its cost is
   * that wave's apply above the median of the others. */
  def admission(spark: SparkSession, o: Opts, specJson: String, root: Path,
                waves: Seq[Path], tr: Tracer): Seq[Metric] = {
    val spec = PipelineSpec.fromJson(specJson)
    val engine = new Engine(spark, root.resolve("engine").toString)
    val core = tr.span("admission.bootstrap", -1)(AdmissionSink.openGate(spark, spec.sink))
    val epoch = graft.text.AdmissionState.acquireWriter(s"${spec.sink.path}/state")
    waves.zipWithIndex.foreach { case (w, id) =>
      tr.span("admission.apply", id.toLong) {
        val docs = AdmissionSink.documentsOf(engine.toFrame(
          spark.read.schema("doc_id BIGINT, text STRING").parquet(w.toString), spec.source))
        core.applyBatch(spark, epoch, docs, id.toLong)
      }
    }
    tr.drain()
    tr.writeSpans(o.work.resolve("spans.jsonl"))
    val state = java.nio.file.Paths.get(spec.sink.path).resolve("state")
    val foldIds = Files2.list(state).map(_.getFileName.toString)
      .filter(_.startsWith("fold=")).map(_.stripPrefix("fold=").toLong + 1).toSet
    val applies = tr.spansNamed("admission.apply")
    val plain = Stats.median(applies.filterNot(s => foldIds(s.batch)).map(_.ms))
    val folds = applies.filter(s => foldIds(s.batch)).map(_.ms - plain)
    Seq(
      Metric("admission.bootstrap_s", tr.spansNamed("admission.bootstrap").map(_.ms).sum / 1000.0, "s"),
      Metric("admission.replay_apply_ms_p50", Stats.pct(applies.map(_.ms), 50), "ms"),
      Metric("admission.fold_ms_p50", Stats.pct(folds, 50), "ms"),
      Metric("admission.folds", folds.size.toDouble, "count"),
      Metric("admission.state_bytes_end", Files2.du(state).toDouble, "bytes"))
  }
}
