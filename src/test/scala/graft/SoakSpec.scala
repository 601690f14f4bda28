package graft

import java.nio.file.Files

import graft.pipeline.Engine

/** Soak test — the reference's CONNECT_DML_TEST pattern
  * (`실습수행/Debezium MySQL CDC Source Connector 실습 - 02.md:439-502`):
  * interleaved inserts with periodic updates and deletes across several
  * tables, streamed through CDC pipelines, with a mid-soak restart, then
  * row-count + content reconciliation (the labs' 5-way COUNT UNION). */
class SoakSpec extends SparkSpec {
  import spark.implicits._

  private val Iters = 120
  private val UpdEvery = 10
  private val DelEvery = 20

  // op log per table: (id, after-value or null, op, pos)
  private def ops(table: String): Seq[(Long, Option[String], String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Option[String], String, Long)]
    var pos = 0L
    (1 to Iters).foreach { i =>
      pos += 1; out += ((i.toLong, Some(s"$table-v$i"), "c", pos))
      if (i % UpdEvery == 0 && i > 5) {
        pos += 1; out += (((i - 5).toLong, Some(s"$table-upd$i"), "u", pos))
      }
      if (i % DelEvery == 0 && i > 10) {
        pos += 1; out += (((i - 10).toLong, None, "d", pos))
      }
    }
    out.toSeq
  }

  /** Reference reduction: last op per id wins; deletes remove. */
  private def expected(table: String): Map[Long, String] =
    ops(table).groupBy(_._1).flatMap { case (id, es) =>
      es.maxBy(_._4)._2.map(id -> _)
    }

  test("CONNECT_DML_TEST-style soak across 3 tables with mid-soak restart") {
    val base = Files.createTempDirectory("soak").toString
    val tables = Seq("t1", "t2", "t3")
    val engine = new Engine(spark, s"$base/engine")

    def writeBatch(table: String,
                   batch: Seq[(Long, Option[String], String, Long)]): Unit =
      batch.map { case (id, v, op, pos) => (id, v.map(After2(id, _)), op, pos) }
        .toDF("id", "after", "op", "pos")
        .coalesce(1).write.mode("append").parquet(s"$base/in/$table")

    def spec(table: String) =
      s"""{
         |  "name": "$table",
         |  "source": {"type": "parquet", "path": "$base/in/$table",
         |    "schemaDdl": "id LONG, after STRUCT<id: LONG, v: STRING>, op STRING, pos LONG",
         |    "keyFields": ["id"], "seqColumn": "pos", "topic": "srv.db.$table"},
         |  "transforms": [{"type": "extractNewRecordState"}],
         |  "sink": {"type": "table", "path": "$base/state/$table", "keys": ["id"]}
         |}""".stripMargin

    // split each table's op log into 4 chunks, streamed incrementally
    val chunks = tables.map(t => t -> ops(t).grouped(ops(t).size / 4 + 1).toSeq).toMap
    tables.foreach(t => writeBatch(t, chunks(t).head))
    val queries = tables.map(t => t -> engine.registerJson(spec(t))).toMap
    queries.values.foreach(_.processAllAvailable())

    // chunk 2 arrives; then a full restart cycle (§5.4) before chunks 3-4
    tables.foreach(t => writeBatch(t, chunks(t)(1)))
    queries.values.foreach(_.processAllAvailable())
    tables.foreach(engine.pause)
    tables.foreach { t => writeBatch(t, chunks(t)(2)); writeBatch(t, chunks(t)(3)) }
    val resumed = tables.map(t => t -> engine.resume(t)).toMap
    resumed.values.foreach(_.processAllAvailable())
    tables.foreach(engine.pause)

    // reconciliation: counts AND content per table (labs: 5-way COUNT(*))
    tables.foreach { t =>
      val want = expected(t)
      val got = spark.read.parquet(s"$base/state/$t")
        .select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.size == want.size, s"$t: ${got.size} != ${want.size}")
      assert(got == want, s"$t content mismatch")
    }
    tables.foreach(engine.delete)
  }
}

case class After2(id: Long, v: String)
