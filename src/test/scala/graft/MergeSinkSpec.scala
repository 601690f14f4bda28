package graft

import org.apache.spark.sql.functions._
import graft.model.Connect
import graft.sinks.{MergeSink, SchemaEvolution}

class MergeSinkSpec extends SparkSpec {
  import spark.implicits._

  private def log() = {
    // changelog for key=1: v1 then v2 (update); key=2: v1 then tombstone;
    // key=3: single insert
    val rows = Seq(
      (1, "a", 10L, false), (1, "a2", 11L, false),
      (2, "b", 10L, false), (2, "", 12L, true),
      (3, "c", 10L, false))
    val df = rows.toDF("id", "payload", "s", "del")
    Connect.toConnectFrame(df, Seq("id"), "t", "s")
      .withColumn("value",
        when(!col("value.del"), col("value").dropFields("del")))
  }

  test("K1/K2 materialize: last-write-wins + tombstone delete") {
    val out = MergeSink.materialize(log()).select("id", "payload")
      .as[(Int, String)].collect().toSet
    assert(out == Set((1, "a2"), (3, "c")))
  }

  test("idempotence: applying the same log twice equals once") {
    val once = MergeSink.materialize(log())
    val twice = MergeSink.materialize(log().unionByName(log()))
    assert(once.exceptAll(twice).count() == 0 && twice.exceptAll(once).count() == 0)
  }

  test("applyBatch merges changelog over snapshot, log wins") {
    val snap = Seq((1, "old"), (9, "keep")).toDF("id", "payload")
    val out = MergeSink.applyBatch(snap, log(), Seq("id"))
      .select("id", "payload").as[(Int, String)].collect().toSet
    assert(out == Set((1, "a2"), (3, "c"), (9, "keep")))
  }

  test("applyBatch add-only schema drift null-pads the snapshot") {
    val snap = Seq((9, "keep")).toDF("id", "payload")
    val drifted = log().withColumn("value",
      when(col("value").isNotNull, col("value").withField("extra", lit(42))))
    val out = MergeSink.applyBatch(snap, drifted, Seq("id"))
    assert(out.columns.toSeq == Seq("id", "payload", "s", "extra"))
    assert(out.filter(col("id") === 9).select("extra").head().isNullAt(0))
    assert(out.filter(col("id") === 1).select("extra").head().getInt(0) == 42)
  }

  test("composite keys dedup and merge on all key columns") {
    val df = Seq((1, 1, "x", 1L), (1, 2, "y", 1L), (1, 1, "x2", 2L))
      .toDF("a", "b", "payload", "s")
    val out = MergeSink.materialize(
      Connect.toConnectFrame(df, Seq("a", "b"), "t", "s"))
      .select("a", "b", "payload").as[(Int, Int, String)].collect().toSet
    assert(out == Set((1, 1, "x2"), (1, 2, "y")))
  }

  test("KeyedFileSink records the schema-history stream: CREATE then drift events") {
    import graft.pipeline.{KeyedFileSink, SinkSpec}
    import graft.sinks.SchemaHistory
    val base = java.nio.file.Files.createTempDirectory("hist").toString
    val sink = SinkSpec("table", s"$base/state", Seq("id"))
    def frame(withExtra: Boolean) = {
      val df = Seq((1, "a", 1L)).toDF("id", "payload", "s")
      val f = Connect.toConnectFrame(df, Seq("id"), "t", "s")
      if (withExtra) f.withColumn("value",
        col("value").withField("extra", lit(42))) else f
    }
    KeyedFileSink.applyBatch(spark, sink, frame(withExtra = false), None)
    val h1 = SchemaHistory.load(sink.path)
    assert(h1.size == 1 && h1.head.contains("CREATE TABLE state"))
    // same schema again: no new events
    KeyedFileSink.applyBatch(spark, sink, frame(withExtra = false), None)
    assert(SchemaHistory.load(sink.path).size == 1)
    // add-only drift: one ALTER event, versions continue
    KeyedFileSink.applyBatch(spark, sink, frame(withExtra = true), None)
    val h2 = SchemaHistory.load(sink.path)
    assert(h2.size == 2)
    assert(h2.last.contains("\"version\":2"))
    assert(h2.last.contains("ADD COLUMN extra INTEGER"))
    // the history file is itself consumable as a table of DDL events
    val read = spark.read.json(SchemaHistory.historyPath(sink.path).toString)
    assert(read.count() == 2)
    assert(read.columns.sorted.toSeq == Seq("change", "ddl", "version"))
  }

  test("a batch omitting an earlier column records one manual DROP event, not one per batch") {
    import graft.pipeline.{KeyedFileSink, SinkSpec}
    import graft.sinks.{LogTable, SchemaHistory}
    val base = java.nio.file.Files.createTempDirectory("histdrop").toString
    val sink = SinkSpec("table", s"$base/state", Seq("id"))
    def frame(id: Int, withExtra: Boolean) = {
      val df = Seq((id, "a", id.toLong)).toDF("id", "payload", "s")
      val f = Connect.toConnectFrame(df, Seq("id"), "t", "s")
      if (withExtra) f.withColumn("value",
        col("value").withField("extra", lit(42))) else f
    }
    KeyedFileSink.applyBatch(spark, sink, frame(1, withExtra = true), None)
    KeyedFileSink.applyBatch(spark, sink, frame(2, withExtra = false), None)
    KeyedFileSink.applyBatch(spark, sink, frame(3, withExtra = false), None)
    val h = SchemaHistory.load(sink.path)
    assert(h.size == 2, h.mkString("\n"))
    assert(h.last.contains("\"change\":\"manual\"") &&
      h.last.contains("DROP COLUMN extra"))
    // the table stays add-only: the dropped column reads back as null
    val rows = LogTable.read(spark, sink.path, Seq("id"))
      .select("id", "extra").as[(Int, Option[Int])].collect().toSet
    assert(rows == Set((1, Some(42)), (2, None), (3, None)))
  }

  test("schema history replays a chain incl. manual drop/retype events") {
    import org.apache.spark.sql.types._
    import graft.sinks.SchemaHistory
    val v1 = StructType(Seq(StructField("a", IntegerType, nullable = false)))
    val v2 = StructType(v1.fields :+ StructField("b", StringType))
    val v3 = StructType(Seq(v1.fields.head, StructField("b", LongType)))
    val evs = SchemaHistory.events("t", Seq("a"), Seq(v1, v2, v3))
    assert(evs.map(_.version) == Seq(1, 2, 3))
    assert(evs.map(_.change) == Seq("create", "alter", "manual"))
    assert(evs(1).ddl == "ALTER TABLE t ADD COLUMN b VARCHAR(4000)")
    assert(evs(2).ddl.contains("retype b VARCHAR(4000) -> BIGINT"))
  }

  test("schema diff reports add/drop/retype; DDL generation") {
    import org.apache.spark.sql.types._
    val t = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val i = StructType(Seq(StructField("a", LongType), StructField("c", DateType)))
    val d = SchemaEvolution.diff(t, i)
    assert(d.added.map(_.name) == Seq("c"))
    assert(d.dropped.map(_.name) == Seq("b"))
    assert(d.retyped.map(_._1.name) == Seq("a"))
    assert(!d.isAddOnly)
    val ddl = SchemaEvolution.createTableDdl("t", t, Seq("a"))
    assert(ddl == "CREATE TABLE t (a INTEGER NOT NULL, b VARCHAR(4000), PRIMARY KEY (a))")
    assert(SchemaEvolution.evolveDdl("t", d) ==
      Seq("ALTER TABLE t ADD COLUMN c DATE"))
  }
}
