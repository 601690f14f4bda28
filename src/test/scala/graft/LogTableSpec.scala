package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, In, InSet}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.sinks.LogTable

/** Delta-versioned keyed sink: O(batch) appends, merge-on-read over one
 * pinned-schema relation, schema drift across versions,
 * tombstone-preserving compaction, batch-id replay and its refusals,
 * crash-leftover hygiene, and the end-to-end streaming pipeline wiring. */
class LogTableSpec extends SparkSpec {
  import spark.implicits._

  private def frame(rows: Seq[(Int, String)], seqV: Long,
                    tombstone: Boolean = false) = {
    val df = rows.toDF("id", "v")
    df.select(struct(col("id")).as("key"),
      when(lit(!tombstone), struct(col("id"), col("v"))).as("value"),
      lit(seqV).as("seq"))
  }

  /** A connect frame keyed by `id` whose value is every column of `df`. */
  private def conn(df: DataFrame, seqV: Long) =
    df.select(struct(col("id")).as("key"),
      struct(df.columns.toSeq.map(col): _*).as("value"), lit(seqV).as("seq"))

  private def recorded(path: String, v: Int): StructType =
    DataType.fromJson(Files.readString(Paths.get(path, f"v$v%08d", "_schema.json")))
      .asInstanceOf[StructType]

  private def state(path: String): Set[(Int, String)] =
    LogTable.read(spark, path, Seq("id"))
      .select("id", "v").as[(Int, String)].collect().toSet

  test("append deltas, merge-on-read, tombstones delete") {
    val path = Files.createTempDirectory("logtable").toString + "/t"
    LogTable.applyBatch(path, frame(Seq(1 -> "a", 2 -> "b"), 1), Seq("id"))
    LogTable.applyBatch(path, frame(Seq(1 -> "a2", 3 -> "c"), 2), Seq("id"))
    LogTable.applyBatch(path, frame(Seq(2 -> ""), 3, tombstone = true),
      Seq("id"))
    assert(LogTable.versions(path) == Seq(1, 2, 3))
    assert(state(path) == Set(1 -> "a2", 3 -> "c"))
  }

  test("replaying a batch as a new version converges") {
    val path = Files.createTempDirectory("logtable").toString + "/t"
    LogTable.applyBatch(path, frame(Seq(1 -> "a", 2 -> "b"), 1), Seq("id"))
    val before = state(path)
    LogTable.applyBatch(path, frame(Seq(1 -> "a", 2 -> "b"), 1), Seq("id"))
    assert(state(path) == before)
  }

  test("batch-id markers make replay a no-op, and survive compaction") {
    val path = Files.createTempDirectory("logtable").toString + "/t"
    LogTable.applyBatch(path, frame(Seq(1 -> "a"), 1), Seq("id"), Some(10L))
    LogTable.applyBatch(path, frame(Seq(1 -> "a"), 1), Seq("id"), Some(10L))
    assert(LogTable.versions(path) == Seq(1)) // replay appended nothing
    LogTable.applyBatch(path, frame(Seq(2 -> "b"), 2), Seq("id"), Some(11L))
    assert(LogTable.maxCommittedBatchId(path).contains(11L))
    LogTable.compact(spark, path, Seq("id"))
    // the max marker moved onto the compacted base: replays still no-op
    assert(LogTable.maxCommittedBatchId(path).contains(11L))
    val before = LogTable.versions(path)
    LogTable.applyBatch(path, frame(Seq(2 -> "b"), 2), Seq("id"), Some(11L))
    assert(LogTable.versions(path) == before)
    // a STALE id breaks the monotonic contract (only the LAST batch can
    // replay) — a reset checkpoint or second writer must fail loudly,
    // not have its batches silently discarded as "replays"
    val stale = intercept[IllegalStateException] {
      LogTable.applyBatch(path, frame(Seq(9 -> "x"), 9), Seq("id"), Some(10L))
    }
    assert(stale.getMessage.contains("behind committed batch"))
    assert(LogTable.versions(path) == before)
    // un-id'd appends (batch-id unknown) still append — opt-in contract
    LogTable.applyBatch(path, frame(Seq(3 -> "c"), 3), Seq("id"))
    assert(state(path) == Set(1 -> "a", 2 -> "b", 3 -> "c"))
  }

  test("a non-replayable log refuses an already-committed batch id, versions unmoved") {
    val path = Files.createTempDirectory("logtable").toString + "/t"
    LogTable.applyBatch(path, frame(Seq(1 -> "a"), 1), Seq("id"), Some(1L),
      replayable = false)
    LogTable.applyBatch(path, frame(Seq(2 -> "b"), 2), Seq("id"), Some(2L),
      replayable = false)
    val before = LogTable.versions(path)
    // an equal id on a synchronous journal is a second writer that won
    // the race, not a crash replay: swallowing it would lose the mutation
    val dup = intercept[IllegalStateException] {
      LogTable.applyBatch(path, frame(Seq(3 -> "c"), 3), Seq("id"), Some(2L),
        replayable = false)
    }
    assert(dup.getMessage.contains("non-replayable"))
    assert(LogTable.versions(path) == before)
    assert(state(path) == Set(1 -> "a", 2 -> "b"))
  }

  test("compaction folds versions, keeps deletes deleted, is re-mergeable") {
    val path = Files.createTempDirectory("logtable").toString + "/t"
    LogTable.applyBatch(path, frame(Seq(1 -> "a", 2 -> "b"), 1), Seq("id"))
    LogTable.applyBatch(path, frame(Seq(2 -> ""), 2, tombstone = true),
      Seq("id"))
    LogTable.applyBatch(path, frame(Seq(3 -> "c"), 3), Seq("id"))
    val before = state(path)
    LogTable.compact(spark, path, Seq("id"))
    assert(LogTable.versions(path).size == 1)
    assert(state(path) == before)
    assert(!state(path).exists(_._1 == 2)) // tombstone survived
    // appends continue after compaction
    LogTable.applyBatch(path, frame(Seq(4 -> "d"), 4), Seq("id"))
    assert(state(path) == before + (4 -> "d"))
  }

  test("a read over N versions is one pinned-schema relation; the key filter reaches its scan") {
    val path = Files.createTempDirectory("logtable").toString + "/t"
    LogTable.applyBatch(path, frame(Seq(1 -> "a", 2 -> "b"), 1), Seq("id"))
    LogTable.applyBatch(path, frame(Seq(1 -> "a2", 3 -> "c"), 2), Seq("id"))
    LogTable.applyBatch(path, frame(Seq(2 -> ""), 3, tombstone = true), Seq("id"))
    val df = LogTable.read(spark, path, Seq("id")).filter(col("id").isin(1, 3))
    // one file relation over every version dir, not one per version
    val rels = df.queryExecution.analyzed.collect { case r: LogicalRelation => r.relation }
    assert(rels.size == 1)
    val roots = rels.head.asInstanceOf[HadoopFsRelation].location.rootPaths.map(_.getName)
    assert(roots == Seq("v00000001", "v00000002", "v00000003"))
    val scans = df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1)
    assert(scans.head.dataFilters.exists {
      case In(a: Attribute, _) => a.name == "id"
      case InSet(a: Attribute, _) => a.name == "id"
      case _ => false
    }, scans.head.dataFilters)
    assert(df.columns.toSeq == Seq("id", "v"))
    assert(df.as[(Int, String)].collect().toSet == Set(1 -> "a2", 3 -> "c"))
  }

  test("a column added by a later version reads null before it, in unionByName order, through compaction") {
    val path = Files.createTempDirectory("logtable").toString + "/t"
    LogTable.applyBatch(path, conn(Seq(1 -> "a", 2 -> "b").toDF("id", "v"), 1), Seq("id"))
    // v2 adds `w`, written before `v`: the read keeps the first version's
    // order and appends the new column, as unionByName does
    LogTable.applyBatch(path,
      conn(Seq((2, 20L, "b2")).toDF("id", "w", "v"), 2), Seq("id"))
    LogTable.applyBatch(path, conn(Seq(3 -> "c").toDF("id", "v"), 3), Seq("id"))
    def rows = LogTable.read(spark, path, Seq("id"))
    val expected = Set[(Int, String, Option[Long])](
      (1, "a", None), (2, "b2", Some(20L)), (3, "c", None))
    assert(rows.columns.toSeq == Seq("id", "v", "w"))
    assert(rows.as[(Int, String, Option[Long])].collect().toSet == expected)
    LogTable.compact(spark, path, Seq("id"))
    val Seq(base) = LogTable.versions(path)
    assert(recorded(path, base).fieldNames.toSeq == Seq("id", "v", "_tombstone", "_seq", "w"))
    assert(rows.columns.toSeq == Seq("id", "v", "w"))
    assert(rows.as[(Int, String, Option[Long])].collect().toSet == expected)
  }

  test("a retyped column keeps unionByName's outcome: numeric widening coerces, an incompatible type fails") {
    // retypes are manual (SchemaEvolution); the read neither repairs nor
    // hides one. Same name, new type, in a later version:
    def table(a: DataFrame, b: DataFrame): String = {
      val path = Files.createTempDirectory("logtable").toString + "/t"
      LogTable.applyBatch(path, conn(a, 1), Seq("id"))
      LogTable.applyBatch(path, conn(b, 2), Seq("id"))
      path
    }
    // int -> bigint widens, in either order
    for ((a, b) <- Seq((Seq(1 -> 7).toDF("id", "v"), Seq(2 -> 8L).toDF("id", "v")),
                       (Seq(1 -> 7L).toDF("id", "v"), Seq(2 -> 8).toDF("id", "v")))) {
      val got = LogTable.read(spark, table(a, b), Seq("id"))
      assert(got.schema("v").dataType == LongType)
      assert(got.as[(Int, Long)].collect().toSet == Set(1 -> 7L, 2 -> 8L))
    }
    // int -> boolean has no common type: building the read fails
    val incompatible = intercept[AnalysisException] {
      LogTable.read(spark, table(Seq(1 -> 7).toDF("id", "v"),
        Seq(2 -> true).toDF("id", "v")), Seq("id"))
    }
    assert(incompatible.getMessage.contains("INCOMPATIBLE_COLUMN_TYPE"))
    // string -> int: the union types the column bigint, and the scan
    // cannot read a string column as one. A per-version union cast each
    // string instead, so it read "1" as 1 and failed only on "a"; the
    // pinned read fails on both
    for (old <- Seq("a", "1")) {
      val str = LogTable.read(spark, table(Seq(1 -> old).toDF("id", "v"),
        Seq(2 -> 7).toDF("id", "v")), Seq("id"))
      assert(str.schema("v").dataType == LongType)
      intercept[Exception](str.collect())
    }
  }

  test("a table under a version-named ancestor dir ranks every row by its own version") {
    val path = Files.createTempDirectory("logtable").toString + "/v00000042/t"
    // each later version carries a LOWER _seq: only the right version
    // number makes the later write win
    LogTable.applyBatch(path, frame(Seq(1 -> "a", 2 -> "b"), 9), Seq("id"))
    LogTable.applyBatch(path, frame(Seq(1 -> "a2", 2 -> "b2"), 5), Seq("id"))
    LogTable.applyBatch(path, frame(Seq(2 -> "b3"), 1), Seq("id"))
    assert(state(path) == Set(1 -> "a2", 2 -> "b3"))
    LogTable.compact(spark, path, Seq("id"))
    LogTable.applyBatch(path, frame(Seq(1 -> "a4"), 0), Seq("id"))
    assert(state(path) == Set(1 -> "a4", 2 -> "b3"))
  }

  test("a version dir without its recorded schema fails the read, naming the dir") {
    val path = Files.createTempDirectory("logtable").toString + "/t"
    LogTable.applyBatch(path, frame(Seq(1 -> "a"), 1), Seq("id"))
    LogTable.applyBatch(path, frame(Seq(2 -> "b"), 2), Seq("id"))
    Files.delete(Paths.get(path, "v00000002", "_schema.json"))
    val e = intercept[IllegalStateException](LogTable.read(spark, path, Seq("id")))
    assert(e.getMessage.contains(Paths.get(path, "v00000002").toString), e.getMessage)
    assert(e.getMessage.contains("_schema.json"), e.getMessage)
  }

  test("leftover temp dirs from a crashed rename commit are ignored and swept") {
    val path = Files.createTempDirectory("logtable").toString + "/t"
    LogTable.applyBatch(path, frame(Seq(1 -> "a"), 1), Seq("id"))
    // the schema is recorded inside the stage and published with it
    assert(recorded(path, 1).fieldNames.toSeq == Seq("id", "v", "_tombstone", "_seq"))
    val junk = Paths.get(path, ".tmp-v00000099")
    Files.createDirectories(junk)
    Files.writeString(junk.resolve("garbage"), "not parquet")
    Files.writeString(junk.resolve("_schema.json"), "not a schema")
    assert(state(path) == Set(1 -> "a")) // reader ignores temp dirs
    LogTable.applyBatch(path, frame(Seq(2 -> "b"), 2), Seq("id"))
    assert(!Files.exists(junk)) // next writer swept it
    assert(state(path) == Set(1 -> "a", 2 -> "b"))
  }

  test("engine pipeline with logtable sink: stream -> deltas -> merged state") {
    val base = Files.createTempDirectory("logtable_engine").toString
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(in, "f1.csv"),
      "id,v,seq,__deleted\n1,a,10,false\n2,b,11,false")
    val engine = new graft.pipeline.Engine(spark, s"$base/engine")
    val q = engine.registerJson(
      s"""{
         |  "name": "lt1",
         |  "source": {"type": "csv", "path": "$in",
         |    "schemaDdl": "id INT, v STRING, seq LONG, __deleted STRING",
         |    "keyFields": ["id"], "seqColumn": "seq", "topic": "om.t"},
         |  "sink": {"type": "logtable", "path": "$base/state", "keys": ["id"]}
         |}""".stripMargin)
    try {
      q.processAllAvailable()
      Files.writeString(Paths.get(in, "f2.csv"),
        "id,v,seq,__deleted\n1,a2,20,false\n2,b,21,true\n3,c,22,false")
      q.processAllAvailable()
      val got = LogTable.read(spark, s"$base/state", Seq("id"))
        .select("id", "v").as[(Int, String)].collect().toSet
      assert(got == Set(1 -> "a2", 3 -> "c"))
      assert(LogTable.versions(s"$base/state").size == 2)
    } finally q.stop()
  }
}
