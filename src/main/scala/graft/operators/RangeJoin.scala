package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Point-in-interval (range) join: match each left row's timestamp to
 * right rows whose `[start, end)` interval contains it.
 *
 * Spark plans a raw `l.ts >= r.start AND l.ts < r.end` join as a
 * broadcast nested loop — O(|L| x |R|) comparisons, a wall at scale.
 * This operator *bins* time into fixed-width buckets: an interval
 * replicates into each bin it overlaps, a point belongs to exactly one
 * bin, and the join becomes an equi-join on the bin id followed by the
 * exact range filter. Cost: one hash shuffle on bin ids + interval
 * replication proportional to span/binWidth (choose binWidth near the
 * typical interval length).
 */
object RangeJoin {

  /**
   * `left` keeps all columns; matching right columns arrive as struct
   * `range` (inner semantics: non-matching left rows drop). `binWidth`
   * in the timestamp's native unit after `unix_micros` (microseconds).
   */
  def pointInInterval(left: DataFrame, right: DataFrame,
                      leftTs: String, rightStart: String, rightEnd: String,
                      binWidthMicros: Long): DataFrame = {
    val lPayload = struct(left.columns.map(col).toIndexedSeq: _*)
    val rPayload = struct(right.columns.map(col).toIndexedSeq: _*)
    val l = left.select(lPayload.as("_l"),
      floor(unix_micros(col(leftTs).cast("timestamp")) / binWidthMicros).as("_bin"),
      unix_micros(col(leftTs).cast("timestamp")).as("_t"))
    val r = right.select(rPayload.as("_r"),
      unix_micros(col(rightStart).cast("timestamp")).as("_s"),
      unix_micros(col(rightEnd).cast("timestamp")).as("_e"))
      // empty/inverted intervals can match nothing — and Spark's
      // sequence(a, b) DESCENDS when b < a, which would replicate such
      // an interval into bins it never covers; drop them before explode
      .filter(col("_e") > col("_s"))
      .withColumn("_bin", explode(sequence(
        floor(col("_s") / binWidthMicros).cast("long"),
        floor((col("_e") - 1) / binWidthMicros).cast("long"))))
    l.join(r, Seq("_bin"))
      .filter(col("_t") >= col("_s") && col("_t") < col("_e"))
      .select(col("_l.*"), col("_r").as("range"))
  }
}
