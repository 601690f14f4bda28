package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sinks.LogTable

/** Delta-versioned keyed sink: O(batch) appends, merge-on-read,
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

  test("leftover temp dirs from a crashed rename commit are ignored and swept") {
    val path = Files.createTempDirectory("logtable").toString + "/t"
    LogTable.applyBatch(path, frame(Seq(1 -> "a"), 1), Seq("id"))
    val junk = Paths.get(path, ".tmp-v00000099")
    Files.createDirectories(junk)
    Files.writeString(junk.resolve("garbage"), "not parquet")
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
