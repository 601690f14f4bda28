package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Bench scale-ladder generator: derives a K×-replicated dataset from a
 * driver-provided scale factor (default 5× sf0.1 → "sf0.5-equivalent")
 * so the benchmark can be read ABOVE the largest shipped SF and scaling
 * bends become visible (state growth, candidate-pair growth, iteration
 * counts). BENCH-ONLY derived data — correctness always runs against
 * the driver's own parquet.
 *
 * Replication preserves the workload's SHAPE, not just its row count:
 *  - every key column shifts by a per-replica offset, so join fan-outs
 *    and group cardinalities scale linearly like a real bigger corpus
 *    (keys stay consistent across tables: a replica's lineitem still
 *    joins its replica's orders);
 *  - fixed dimensions (region, nation) stay fixed, as in TPC-H;
 *  - document text ROTATES per replica — identical copies would turn
 *    the LSH/minhash banded joins quadratic in the replica count
 *    (every bucket holds K clones), which is a skew artifact, not scale;
 *  - embeddings get a small per-replica, per-dimension jitter so vector
 *    replicas are near- but not exact-duplicates (exact dupes collapse
 *    to zero-distance pairs and distort the ANN cell profile).
 */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/scaledata/sf0.5")
    val k = args.lift(2).map(_.toInt).getOrElse(5)
    // the per-replica Caesar shift has 26 distinct values; replica 26
    // would reuse shift 0 and be letter-identical to the base corpus,
    // quietly reintroducing the cross-replica near-dup artifact
    require(k <= 26, s"replication factor $k > 26 would reuse Caesar " +
      "shifts and reintroduce cross-replica near-dups in documents")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val Off = 100000000L // far above any shipped SF's max key

    // the driver ships each table as ONE parquet FILE (not a dir) —
    // mirror the layout
    def writeSingleFile(df: DataFrame, name: String): Unit =
      graft.Tables.stageFile(df, java.nio.file.Paths.get(dst, s"$name.parquet"),
        System.currentTimeMillis())
    def replicate(name: String, df: Int => DataFrame): Unit = {
      writeSingleFile((0 until k).map(df).reduce(_.unionByName(_)), name)
      println(s"[scale] $name x$k")
    }
    def base(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def shift(c: String, i: Int) = col(c) + lit(i * Off)

    // fixed dims copy through once
    Seq("region", "nation").foreach(t => writeSingleFile(base(t), t))

    replicate("customer", i => base("customer")
      .withColumn("c_custkey", shift("c_custkey", i)))
    replicate("supplier", i => base("supplier")
      .withColumn("s_suppkey", shift("s_suppkey", i)))
    replicate("part", i => base("part")
      .withColumn("p_partkey", shift("p_partkey", i)))
    replicate("orders", i => base("orders")
      .withColumn("o_orderkey", shift("o_orderkey", i))
      .withColumn("o_custkey", shift("o_custkey", i)))
    replicate("lineitem", i => base("lineitem")
      .withColumn("l_orderkey", shift("l_orderkey", i))
      .withColumn("l_partkey", shift("l_partkey", i))
      .withColumn("l_suppkey", shift("l_suppkey", i)))

    // events.ts encoding varies by testdata generation; Tables.readEvents
    // normalizes to TIMESTAMP_NTZ micros, which is also what the current
    // generator writes — scaled dirs read back like the originals
    val ev = graft.Tables.readEvents(spark, src)
    replicate("events", i => ev
      .withColumn("event_id", shift("event_id", i))
      .withColumn("user_id", shift("user_id", i)))

    replicate("documents", i => {
      val d = base("documents").withColumn("doc_id", shift("doc_id", i))
      if (i == 0) d
      else {
        // per-replica Caesar shift of the letters: EVERY word changes,
        // so no token shingle survives across replicas and near-dup
        // density grows LINEARLY with k. The earlier rotated-prefix
        // variant kept ~all shingles intact — each doc's k replicas
        // were mutual true near-dups (jaccard ≈ 1), inflating
        // candidate pairs by ~k²/2 per doc, so dedup-family ladder
        // slopes measured the fixture artifact, not the operator
        // (measured at k=10: 300 → 247k candidate pairs). Word
        // lengths, whitespace and punctuation are preserved, so the
        // x-battery's per-row work is unchanged; within a replica the
        // corpus's own near-dup structure is intact.
        val az = "abcdefghijklmnopqrstuvwxyz"
        val s = i % 26
        val rot = az.drop(s) + az.take(s)
        d.withColumn("text", translate(col("text"),
          az + az.toUpperCase, rot + rot.toUpperCase))
      }
    })

    replicate("embeddings", i => {
      val e = base("embeddings").withColumn("vec_id", shift("vec_id", i))
      if (i == 0) e
      else e.withColumn("embedding",
        transform(col("embedding"),
          (x, j) => (x + lit(0.0005 * i) * cos(j.cast("double")))
            .cast("float")))
    })

    println(s"[scale] done: $dst (k=$k from $src)")
    spark.stop()
  }
}
