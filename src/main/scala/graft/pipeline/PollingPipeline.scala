package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Connect
import graft.smt.Smt
import graft.sources.{Incremental, WatermarkStore}

/**
 * S2-S4 as a runnable pipeline — the JDBC-polling connector's whole loop
 * (SURVEY.md §3.1): each tick loads the persisted watermark
 * (connect-offsets analog), reads only rows past it via a pushdown
 * predicate, runs the SMT chain, merges into the keyed table sink, and
 * persists the advanced watermark.
 *
 * Crash contract (the reference's): the watermark is saved AFTER the
 * sink batch lands. A crash in between replays the batch on restart —
 * and the idempotent keyed merge makes the replay a no-op, so
 * at-least-once capture materializes effectively-exactly-once state.
 * Offset reset (`resetOffsets`) re-ingests from scratch; re-applying
 * the full history over existing state converges to the same table.
 */
final class PollingPipeline(
    spark: SparkSession,
    name: String,
    reader: Option[String] => DataFrame, // receives the pushdown predicate
    mode: Incremental.Mode,
    keyFields: Seq[String],
    seqColumn: String,
    transforms: Seq[Smt.Transform],
    sink: SinkSpec,
    stateDir: String) {

  private val store = new WatermarkStore(stateDir)

  /** One poll tick. Returns the number of captured rows. The captured
   * batch is persisted for the tick: the watermark advance, the count,
   * and the sink write would otherwise re-execute the source read —
   * wasted I/O against a live database, and rows arriving between
   * executions could make the written batch diverge from the one the
   * watermark was computed from. */
  def pollOnce(): Long = {
    val w = store.load(name)
    // the unpersist must cover the watermark-advance action inside
    // Incremental.poll too: if that first action throws, a lingering
    // cache entry would serve THIS tick's stale snapshot to the next
    // tick (same predicate => same cached plan)
    var cached: Option[DataFrame] = None
    try {
      val (batch, w2) = Incremental.poll(p => {
        val d = reader(p)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached = Some(d); d
      }, mode, w)
      val framed = Connect.toConnectFrame(batch, keyFields, name, seqColumn)
      val transformed = transforms.foldLeft(framed)((df, t) => t(df))
      val n = transformed.count()
      if (n > 0) TableSink.applyBatch(spark, sink, transformed)
      store.save(name, w2) // AFTER the sink write — replay-safe ordering
      n
    } finally cached.foreach(_.unpersist())
  }

  /** Run `n` ticks back-to-back (testing / manual cadence). Production
   * cadence wraps pollOnce in the engine trigger (`poll.interval.ms`). */
  def run(n: Int): Seq[Long] = (1 to n).map(_ => pollOnce())

  /** L4 targeted offset reset. */
  def resetOffsets(): Unit = store.reset(name)

  def currentWatermark: Incremental.Watermark = store.load(name)
}
