package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** r18 measurement harness (guide §1): for each named SparkEntry query,
  * write its `.explain("formatted")` to plans/<tag>/<name>_<suffix>.txt
  * and optionally time it through the noop sink (computes every column,
  * no sink cost, full plan in the SQL tab) — `count()` lets Catalyst
  * prune the columns whose compute we are trying to measure.
  *
  * Usage: runMain graft.tools.PlanDump <suffix> [names...]
  *   SPARK_GRAFT_SF_DIR picks the data dir (default sf0.1)
  *   SPARK_GRAFT_PLAN_TAG picks the plans/ subdir (default r18)
  *   SPARK_GRAFT_TIME=0 skips the timed noop runs (plan dump only)
  *
  * NOTE: only useful for BATCH gates — a streaming/lifecycle gate runs
  * its pipeline while *building* the returned DataFrame, so its explain
  * is just the final result read. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r18")
    val doTime = sys.env.getOrElse("SPARK_GRAFT_TIME", "1") == "1"
    val suffix = args.headOption.getOrElse("before")
    val names = args.drop(1).toSeq.filter(graft.SparkEntry.queries.contains)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(s"plans/$tag"))
    // e13b's declared query localCheckpoints its result, so its explain
    // is a checkpoint scan; dump the UN-materialized sweep subplan under
    // a dedicated name. "before" reconstructs the pre-r18 12-point
    // sweep from the same public operators the old code used; "after"
    // is the live 3-scored-join build.
    if (args.drop(1).contains("e13b_sweep")) {
      import org.apache.spark.sql.functions._
      import graft.ml.Similarity
      graft.operators.CacheScope.withScope { implicit scope =>
        val (emb, q, cents) = graft.LlmQueries.annRecallTrainedInputs(spark, dir)
        val df =
          if (suffix == "before")
            (for (a <- Seq(1, 2, 3)) yield {
              val assigned = scope.persist(
                Similarity.ivfMultiAssign(emb, cents, a)).toDF()
              (for (np <- Seq(1, 2, 4, 8)) yield
                Similarity.ivfSearchMultiAssigned(q, assigned, 10, cents, np)
                  .select(col("query_id"), col("neighbor_id"),
                    lit(np).as("nprobe"), lit(a).as("n_assign"))
              ).reduce(_.unionByName(_))
            }).reduce(_.unionByName(_))
          else graft.LlmQueries.annRecallTrainedBuild(emb, q, cents)
        Files.writeString(Paths.get(s"plans/$tag/e13b_sweep_$suffix.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
    }
    // r19: the l15/l16 wire-path decode subplan — the declared queries
    // are lifecycle gates (their explain is the final output read), so
    // the decode-parallelism claim dumps the FRAME plan toFrame builds:
    // "before" = the dial unset (decode above the bare file scan, one
    // task per staged file), "after" = decodeParallelism=8 (decode
    // above a round-robin Exchange).
    if (args.drop(1).contains("l15_wire")) {
      import spark.implicits._
      val engine = new graft.pipeline.Engine(spark, "target/tmp/plan_wire")
      val spec = graft.pipeline.SourceSpec(
        "parquet", "target/tmp/plan_wire_in",
        Some("before STRUCT<doc_id BIGINT, text STRING>, " +
          "after STRUCT<doc_id BIGINT, text STRING>, op STRING"),
        Seq("after"), None, "corpus", maxFilesPerTrigger = 1,
        wireFormat = Some("json_envelope"),
        decodeParallelism =
          if (suffix == "after") Some(8) else None)
      val raw = Seq((null: String,
          """{"schema":{},"payload":{"before":null,"after":{"doc_id":1,"text":"t"},"op":"c"}}""",
          "corpus", 1L)).toDF("key", "value", "topic", "offset")
      val framed = engine.toFrame(raw, spec)
      Files.writeString(Paths.get(s"plans/$tag/l15_wire_decode_$suffix.txt"),
        framed.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      Files.writeString(Paths.get(s"plans/$tag/${name}_$suffix.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      if (doTime) {
        spark.sparkContext.setJobDescription(s"$name noop")
        val secs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"NOOP $name ${secs.map(s => f"$s%.2f").mkString(" ")} min=${secs.min}%.2f s")
        spark.sparkContext.setJobDescription(null)
      }
    }
    spark.stop()
  }
}
