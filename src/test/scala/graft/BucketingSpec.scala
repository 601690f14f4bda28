package graft


/** Bucketed co-located join: pre-bucketing both tables on the join key
  * removes the per-query shuffle — the 100 TB answer to repeated joins
  * on the same key (SURVEY.md §2.6 / optimizer table). */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("join of tables bucketed on the key plans without a shuffle") {
    val facts = (1 to 1000).map(i => (i % 50, s"f$i")).toDF("k", "f")
    val dims = (0 until 50).map(i => (i, s"d$i")).toDF("k", "d")
    facts.write.mode("overwrite").bucketBy(8, "k").saveAsTable("b_facts")
    dims.write.mode("overwrite").bucketBy(8, "k").saveAsTable("b_dims")
    // AQE would broadcast the tiny dim; force the shuffle-sensitive path
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }

  test("IVF-PQ index bucketed by cell: maintenance ops plan shuffle-free") {
    // e14's production claim is that the index TABLE persists bucketed
    // by cell; the payoff is the maintenance shapes — per-cell stats
    // (the nprobe/recall dial's input) and within-cell self-joins
    // (SemDeDup-style within-cell comparisons) — planning with no
    // Exchange on the index side (the search join broadcasts queries,
    // so it never shuffles the index regardless)
    import graft.ml.Similarity
    val vecs = (0 until 200).map { i =>
      val a = Array.fill(8)(0.0f); a(i % 8) = 1.0f; a((i + 1) % 8) = 0.01f * i
      (i.toLong, a)
    }.toDF("id", "vec")
    val cents = Similarity.ivfCentroids(4, 8).map(_.map(_.toDouble))
    val books = Similarity.pqCodebooks(2, 4, 4)
    Similarity.ivfPqIndex(vecs, books, cents)
      .write.mode("overwrite").bucketBy(8, "cell").saveAsTable("b_index")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val stats = spark.table("b_index").groupBy("cell").count()
      val statsPlan = stats.queryExecution.executedPlan.toString
      assert(!statsPlan.contains("Exchange hashpartitioning"),
        s"per-cell stats over the bucketed index must not shuffle:\n$statsPlan")
      assert(stats.count() > 0)
      val self = spark.table("b_index").as("a")
        .join(spark.table("b_index").as("b"), "cell")
      val selfPlan = self.queryExecution.executedPlan.toString
      assert(!selfPlan.contains("Exchange hashpartitioning"),
        s"within-cell self-join over the bucketed index must not shuffle:\n$selfPlan")
      assert(self.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_index")
    }
  }
}
