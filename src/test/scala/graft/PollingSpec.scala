package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.pipeline.{PollingPipeline, SinkSpec}
import graft.smt.Smt
import graft.sources.Incremental

/** End-to-end S2 polling pipeline: incremental capture across polls,
  * durable watermark survives a "crash" (new instance), update
  * invisibility in incrementing mode, offset reset + idempotent
  * re-ingest convergence. */
class PollingSpec extends SparkSpec {
  import spark.implicits._

  test("jdbc reader folds the watermark predicate into the dbtable subquery") {
    val o = Incremental.jdbcOptions("jdbc:mysql://host/om", "om.customers",
      Some("customer_id > 42"))
    assert(o("dbtable") ==
      "(SELECT * FROM om.customers WHERE customer_id > 42) graft_poll")
    assert(o("url") == "jdbc:mysql://host/om")
    // no watermark yet (first poll) -> plain table scan
    assert(Incremental.jdbcOptions("u", "om.customers", None)("dbtable") ==
      "om.customers")
  }

  test("timestamp-mode polling refuses a non-UTC session") {
    val nonUtc = spark.newSession()
    nonUtc.conf.set("spark.sql.session.timeZone", "Asia/Seoul")
    val scoped = nonUtc.range(1)
      .selectExpr("id", "timestamp'2024-01-01 00:00:00' as ts")
    val e = intercept[IllegalStateException] {
      Incremental.poll(_ => scoped, Incremental.Timestamp("ts"),
        Incremental.Watermark.zero)
    }
    assert(e.getMessage.contains("UTC"))
  }

  test("polling pipeline: capture, restart, reset — effectively-once") {
    val base = Files.createTempDirectory("poll").toString
    val src = s"$base/source"; val out = s"$base/state"
    def writeSource(rows: (Long, String)*): Unit =
      rows.toDF("id", "v").write.mode("append").parquet(src)
    def reader(pred: Option[String]) =
      pred.foldLeft(spark.read.parquet(src))((d, p) => d.filter(expr(p)))
    def pipeline() = new PollingPipeline(spark, "t", reader,
      Incremental.Incrementing("id"), Seq("id"), "id",
      Seq(Smt.insertValueField("vv", upper(col("value.v")))),
      SinkSpec("table", out, Seq("id")), s"$base/offsets")

    writeSource(1L -> "a", 2L -> "b")
    val p1 = pipeline()
    assert(p1.pollOnce() == 2)
    assert(p1.currentWatermark.inc.contains(2L))
    assert(p1.pollOnce() == 0) // nothing new

    // new rows appear; only they are captured (pushdown past watermark)
    writeSource(3L -> "c", 4L -> "d")
    assert(p1.pollOnce() == 2)
    val s1 = graft.sinks.LogTable.read(spark, out, Seq("id"))
    assert(s1.count() == 4)
    assert(s1.filter(col("id") === 3).select("vv").head().getString(0) == "C")

    // "crash": a fresh instance resumes from the DURABLE watermark
    val p2 = pipeline()
    assert(p2.currentWatermark.inc.contains(4L))
    assert(p2.pollOnce() == 0)

    // offset reset -> full re-ingest; merging the replay over existing
    // state converges to the same table (idempotence)
    p2.resetOffsets()
    assert(p2.pollOnce() == 4)
    val s2 = graft.sinks.LogTable.read(spark, out, Seq("id"))
    assert(s2.count() == 4)
    assert(s2.select(sum("id")).head().getLong(0) == 10L)
  }
}
