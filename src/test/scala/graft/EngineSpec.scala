package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.pipeline.{Engine, PipelineSpec}

/** End-to-end pipeline lifecycle over a real streaming query: CSV spool
  * -> SMT chain -> keyed table sink, with pause/resume (offset
  * continuation), tombstone deletes, single-writer enforcement, and
  * offset reset — the reference's L1-L6 semantics. */
case class After(id: Int, v: String)

class EngineSpec extends SparkSpec {

  private def writeCsv(dir: String, name: String, lines: String*): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name),
      ("id,v,seq,__deleted" +: lines).mkString("\n"))
  }

  private def specJson(in: String, out: String): String =
    s"""{
       |  "name": "p1",
       |  "source": {"type": "csv", "path": "$in",
       |    "schemaDdl": "id INT, v STRING, seq LONG, __deleted STRING",
       |    "keyFields": ["id"], "seqColumn": "seq", "topic": "om.t"},
       |  "transforms": [
       |    {"type": "insertField", "field": "vv", "value": "upper(value.v)"},
       |    {"type": "regexRouter", "pattern": "om\\\\.(.*)", "replacement": "$$1"}
       |  ],
       |  "sink": {"type": "table", "path": "$out", "keys": ["id"]}
       |}""".stripMargin

  test("register -> process -> pause -> resume continues from checkpoint") {
    val base = Files.createTempDirectory("engine").toString
    val in = s"$base/in"; val out = s"$base/state"
    writeCsv(in, "f1.csv", "1,a,10,false", "2,b,11,false")
    val engine = new Engine(spark, s"$base/engine")
    val q = engine.registerJson(specJson(in, out))
    q.processAllAvailable()
    assert(engine.status("p1")._2 == "RUNNING")
    val s1 = spark.read.parquet(out)
    assert(s1.count() == 2)
    // SMT ran: vv = upper(v)
    assert(s1.filter(col("id") === 1).select("vv").head().getString(0) == "A")

    // single-writer: a second register under the same name is rejected
    intercept[IllegalStateException](engine.registerJson(specJson(in, out)))

    engine.pause("p1")
    assert(engine.status("p1")._2 == "PAUSED")
    // new file while paused: an update for id=1, a tombstone for id=2,
    // and a fresh id=3
    writeCsv(in, "f2.csv", "1,a2,20,false", "2,b,21,true", "3,c,22,false")
    engine.resume("p1").processAllAvailable()
    val s2 = spark.read.parquet(out)
      .select("id", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(s2 == Set((1, "a2"), (3, "c")))
    engine.pause("p1")

    // offset reset + resume re-ingests everything (f1 no longer exists
    // as "new" -- both files are re-read from scratch)
    engine.resetOffsets("p1")
    graft.pipeline.TableSink // touch to avoid unused warnings
    val deleted = Paths.get(s"$base/engine/checkpoints/p1")
    assert(!Files.exists(deleted))
    engine.delete("p1")
    assert(engine.list().isEmpty)
  }

  test("CDC envelope parquet stream: unwrap SMT -> keyed sink (S6 shape)") {
    import spark.implicits._
    val base = Files.createTempDirectory("cdc").toString
    val in = s"$base/in"; val out = s"$base/state"
    Files.createDirectories(Paths.get(in))
    // Debezium-consumption shape: envelope rows {id, after, op, pos}
    def writeBatch(name: String, rows: Seq[(Int, Option[After], String, Long)]): Unit =
      rows.toDF("id", "after", "op", "pos")
        .coalesce(1).write.mode("append").parquet(in)
    writeBatch("b1", Seq(
      (1, Some(After(1, "a")), "c", 10L), (2, Some(After(2, "b")), "c", 11L)))
    val spec =
      s"""{
         |  "name": "cdc1",
         |  "source": {"type": "parquet", "path": "$in",
         |    "schemaDdl": "id INT, after STRUCT<id: INT, v: STRING>, op STRING, pos LONG",
         |    "keyFields": ["id"], "seqColumn": "pos", "topic": "srv.db.t"},
         |  "transforms": [{"type": "extractNewRecordState"}],
         |  "sink": {"type": "table", "path": "$out", "keys": ["id"]}
         |}""".stripMargin
    val engine = new Engine(spark, s"$base/engine")
    val q = engine.registerJson(spec)
    q.processAllAvailable()
    assert(spark.read.parquet(out).count() == 2)
    // update id=1, delete id=2 (after = null => tombstone after unwrap)
    writeBatch("b2", Seq(
      (1, Some(After(1, "a2")), "u", 20L), (2, None, "d", 21L)))
    q.processAllAvailable()
    engine.pause("cdc1")
    val state = spark.read.parquet(out)
      .select("id", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(state == Set((1, "a2")))
    engine.delete("cdc1")
  }

  test("append sink partitions output by routed topic (T3 -> L5)") {
    val base = Files.createTempDirectory("route").toString
    val in = s"$base/in"; val out = s"$base/routed"
    writeCsv(in, "f1.csv", "1,a,10,false", "2,b,11,false")
    val spec =
      s"""{
         |  "name": "r1",
         |  "source": {"type": "csv", "path": "$in",
         |    "schemaDdl": "id INT, v STRING, seq LONG, __deleted STRING",
         |    "keyFields": ["id"], "seqColumn": "seq", "topic": "om.t"},
         |  "transforms": [
         |    {"type": "regexRouter", "pattern": "om\\\\.(.*)", "replacement": "routed_$$1"}
         |  ],
         |  "sink": {"type": "append", "path": "$out", "keys": ["id"]}
         |}""".stripMargin
    val engine = new Engine(spark, s"$base/engine")
    engine.registerJson(spec).processAllAvailable()
    engine.delete("r1")
    // directory layout partitioned by the ROUTED topic
    assert(Files.exists(Paths.get(out, "topic=routed_t")))
    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    assert(back.select("topic").distinct().head().getString(0) == "routed_t")
  }

  test("a crashing pipeline reports FAILED with the cause (L2 status)") {
    val base = Files.createTempDirectory("fail").toString
    val in = s"$base/in"; val out = s"$base/state"
    writeCsv(in, "f1.csv", "1,a,10,false")
    // assert_true analyzes fine but blows up on the first row at runtime
    val spec =
      s"""{
         |  "name": "bad1",
         |  "source": {"type": "csv", "path": "$in",
         |    "schemaDdl": "id INT, v STRING, seq LONG, __deleted STRING",
         |    "keyFields": ["id"], "seqColumn": "seq", "topic": "om.t"},
         |  "transforms": [{"type": "insertField", "field": "x",
         |    "value": "assert_true(value.id > 99)"}],
         |  "sink": {"type": "table", "path": "$out", "keys": ["id"]}
         |}""".stripMargin
    val engine = new Engine(spark, s"$base/engine")
    val q = engine.registerJson(spec)
    intercept[Exception](q.processAllAvailable())
    assert(engine.status("bad1")._2.startsWith("FAILED:"))
    engine.delete("bad1")
  }

  test("spec JSON parses the full surface") {
    val spec = PipelineSpec.fromJson(specJson("/i", "/o"))
    assert(spec.name == "p1")
    assert(spec.source.kind == "csv" && spec.source.keyFields == Seq("id"))
    assert(spec.transforms.map(_.kind) == Seq("insertField", "regexRouter"))
    assert(spec.sink.keys == Seq("id"))
  }

  test("kafka source kind parses and fails actionably without the jars") {
    val base = Files.createTempDirectory("kafka").toString
    val spec =
      s"""{
         |  "name": "pk",
         |  "source": {"type": "kafka", "path": "localhost:9092",
         |    "schemaDdl": "id INT, v STRING",
         |    "keyFields": ["id"], "topic": "om.t"},
         |  "sink": {"type": "table", "path": "$base/state", "keys": ["id"]}
         |}""".stripMargin
    // the spec model understands the kind (NOT "unknown source")...
    assert(PipelineSpec.fromJson(spec).source.kind == "kafka")
    // ...and registering surfaces the missing-jars condition explicitly,
    // with the wiring in place so a jar drop-in needs no code changes
    val engine = new Engine(spark, s"$base/engine")
    val e = intercept[IllegalStateException](engine.registerJson(spec))
    assert(e.getMessage.contains("Kafka connector jars"))
    assert(engine.list().isEmpty) // failed start never registers
  }

  test("kafka frame decode: live keys from value, tombstone keys from the kafka key") {
    import spark.implicits._
    import graft.pipeline.SourceSpec
    val engine = new Engine(spark,
      Files.createTempDirectory("kframe").toString)
    val spec = SourceSpec("kafka", "localhost:9092",
      Some("id INT, v STRING"), Seq("id"), None, "om.t")
    // the exact column shape Spark's kafka source emits (key/value
    // binary, topic, offset) — the one thing this cannot exercise is
    // format("kafka") itself
    val raw = Seq(
      // live record: bare-object key and value
      ("""{"id":1}""", """{"id":1,"v":"a"}""", "om.t", 0L),
      // tombstone with a schema'd-envelope scalar key (the lab's wire
      // proof shape: {"schema":{"type":"int32",...},"payload":2})
      ("""{"schema":{"type":"int32","optional":false},"payload":2}""",
        null, "om.t", 1L),
      // tombstone with a bare scalar key
      ("3", null, "om.t", 2L),
      // tombstone with a bare-object key
      ("""{"id":4}""", null, "om.t", 3L))
      .toDF("key", "value", "topic", "offset")
      .select(col("key").cast("binary").as("key"),
        col("value").cast("binary").as("value"),
        col("topic"), col("offset"))
    val out = engine.toFrame(raw, spec)
      .select(col("key.id").as("id"), col("value").isNull.as("tomb"),
        col("seq"))
      .collect().map(r => (r.getInt(0), r.getBoolean(1), r.getLong(2))).toSet
    assert(out == Set((1, false, 0L), (2, true, 1L), (3, true, 2L), (4, true, 3L)))
  }

  test("decodeParallelism spreads the wire decode above an exchange with identical frames; refuses non-wire sources") {
    import spark.implicits._
    import graft.pipeline.SourceSpec
    val engine = new Engine(spark,
      Files.createTempDirectory("dpar").toString)
    val spec = SourceSpec("kafka", "localhost:9092",
      Some("id INT, v STRING"), Seq("id"), None, "om.t")
    val raw = (1 to 40).map(i =>
        (s"""{"id":$i}""", s"""{"id":$i,"v":"x$i"}""", "om.t", i.toLong))
      .toDF("key", "value", "topic", "offset")
    val plain = engine.toFrame(raw, spec)
    val spread = engine.toFrame(raw, spec.copy(decodeParallelism = Some(4)))
    // the decode now runs 4-wide (the repartition sits BELOW the
    // parse projection, so the per-record work spreads across tasks)
    assert(spread.rdd.getNumPartitions == 4)
    assert(spread.queryExecution.executedPlan.toString.contains("Exchange"),
      "the dial must introduce an exchange under the decode")
    assert(!plain.queryExecution.executedPlan.toString.contains("Exchange"),
      "without the dial the plan must stay exchange-free")
    // bit-identical frames either way
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key.id"), col("value.v"), col("seq"))
        .collect().map(_.toString).sorted.toSeq
    assert(snap(plain) == snap(spread) && snap(plain).size == 40)
    // validation: positive, and only meaningful with a wire decode
    val base = Files.createTempDirectory("dparval").toString
    val nonWire =
      s"""{"name":"dv",
         |"source":{"type":"csv","path":"$base/in",
         |  "schemaDdl":"id INT, v STRING, seq LONG","keyFields":["id"],
         |  "seqColumn":"seq","topic":"t","decodeParallelism":"4"},
         |"sink":{"type":"table","path":"$base/state","keys":["id"]}}""".stripMargin
    val e1 = intercept[IllegalArgumentException](engine.registerJson(nonWire))
    assert(e1.getMessage.contains("wireFormat"))
    val nonPos =
      s"""{"name":"dz",
         |"source":{"type":"kafka","path":"localhost:9092",
         |  "schemaDdl":"id INT, v STRING","keyFields":["id"],
         |  "topic":"t","decodeParallelism":"0"},
         |"sink":{"type":"table","path":"$base/state2","keys":["id"]}}""".stripMargin
    val e2 = intercept[IllegalArgumentException](engine.registerJson(nonPos))
    assert(e2.getMessage.contains("positive"))
  }

  test("keyed sinks refuse empty keys; kafka into a keyed sink refuses empty keyFields") {
    val base = Files.createTempDirectory("emptykeys").toString
    val engine = new Engine(spark, s"$base/engine")
    // empty sink.keys would generate "ON CONFLICT () DO ..." or collapse
    // a merge to one row under an empty-struct key — reject up front
    val noKeys =
      s"""{"name":"nk",
         |"source":{"type":"csv","path":"$base/in",
         |  "schemaDdl":"id INT, v STRING","keyFields":["id"],
         |  "seqColumn":"id","topic":"t"},
         |"sink":{"type":"table","path":"$base/state","keys":[]}}""".stripMargin
    val e1 = intercept[IllegalArgumentException](engine.registerJson(noKeys))
    assert(e1.getMessage.contains("non-empty sink.keys"))
    // a kafka frame lifts its key from keyFields; empty ones give every
    // record the same empty-struct key — silent single-row collapse
    val noKeyFields =
      s"""{"name":"nkf",
         |"source":{"type":"kafka","path":"localhost:9092",
         |  "schemaDdl":"id INT, v STRING","keyFields":[],"topic":"t"},
         |"sink":{"type":"logtable","path":"$base/log","keys":["id"],
         |  "deleteEnabled":"false"}}""".stripMargin
    val e2 = intercept[IllegalArgumentException](engine.registerJson(noKeyFields))
    assert(e2.getMessage.contains("keyFields"))
  }

  test("table sink demands an explicit seqColumn (layout-independent merges)") {
    val base = Files.createTempDirectory("noseq").toString
    val spec =
      s"""{
         |  "name": "ns",
         |  "source": {"type": "csv", "path": "$base/in",
         |    "schemaDdl": "id INT, v STRING",
         |    "keyFields": ["id"], "topic": "om.t"},
         |  "sink": {"type": "table", "path": "$base/state", "keys": ["id"]}
         |}""".stripMargin
    val engine = new Engine(spark, s"$base/engine")
    val e = intercept[IllegalArgumentException](engine.registerJson(spec))
    assert(e.getMessage.contains("seqColumn"))
  }

  test("S8: deletes from a key-less source are rejected without REPLICA IDENTITY FULL") {
    val base = Files.createTempDirectory("nopk").toString
    def spec(flag: String) =
      s"""{
         |  "name": "nopk",
         |  "source": {"type": "csv", "path": "$base/in",
         |    "schemaDdl": "c1 INT, v STRING, seq LONG, __deleted STRING",
         |    "seqColumn": "seq", "topic": "om.no_pk_tab"$flag},
         |  "sink": {"type": "table", "path": "$base/state",
         |    "keys": ["c1", "v"]}
         |}""".stripMargin
    val engine = new Engine(spark, s"$base/engine")
    val e = intercept[IllegalArgumentException](engine.registerJson(spec("")))
    assert(e.getMessage.contains("replica identity"))
    // delete.enabled=false is the other lab-sanctioned way out
    val engine2 = new Engine(spark, s"$base/engine2")
    val specNoDel = spec("").replace("\"keys\": [\"c1\", \"v\"]",
      "\"keys\": [\"c1\", \"v\"], \"deleteEnabled\": \"false\"")
    writeCsv(s"$base/in", "f0.csv") // empty file so the stream can start
    engine2.registerJson(specNoDel).processAllAvailable()
    engine2.delete("nopk")
  }

  test("S8: REPLICA IDENTITY FULL keys tombstones by the full row image") {
    val base = Files.createTempDirectory("nopkfull").toString
    val in = s"$base/in"; val out = s"$base/state"
    // columns c1,v double as the row identity; row (2,b) gets deleted
    writeCsv(in, "f1.csv", "1,a,10,false", "2,b,11,false", "2,c,12,false")
    writeCsv(in, "f2.csv", "2,b,13,true")
    val spec =
      s"""{
         |  "name": "nopkfull",
         |  "source": {"type": "csv", "path": "$in",
         |    "schemaDdl": "id INT, v STRING, seq LONG, __deleted STRING",
         |    "seqColumn": "seq", "topic": "om.no_pk_tab",
         |    "replicaIdentityFull": "true"},
         |  "sink": {"type": "table", "path": "$out", "keys": ["id", "v"]}
         |}""".stripMargin
    val engine = new Engine(spark, s"$base/engine")
    val q = engine.registerJson(spec)
    q.processAllAvailable()
    engine.delete("nopkfull")
    val got = spark.read.parquet(out)
      .select("id", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // (2,b) tombstoned away by its full-row key; (2,c) survives — a PK
    // key of just id=2 would have clobbered it
    assert(got == Set((1, "a"), (2, "c")))
  }

  test("S7 lifecycle: initial snapshot runs once, restart skips, reset re-snapshots") {
    import graft.pipeline.{SinkSpec, SourceSpec}
    val base = Files.createTempDirectory("snaplife").toString
    val in = s"$base/in"; val out = s"$base/state"
    Files.createDirectories(Paths.get(in))
    // upstream current state: ids 1..3 = 'snap'
    spark.range(1, 4).select(col("id").cast("int").as("id"),
        lit("snap").as("v"), lit(0L).as("seq"), lit("false").as("__deleted"))
      .coalesce(1).write.parquet(s"$base/snapshot")
    val spec = PipelineSpec("snap",
      SourceSpec(kind = "csv", path = in,
        schemaDdl = Some("id INT, v STRING, seq BIGINT, __deleted STRING"),
        keyFields = Seq("id"), seqColumn = Some("seq"), topic = "om.t",
        snapshotMode = Some("initial"), snapshotPath = Some(s"$base/snapshot")),
      Seq.empty, SinkSpec("table", out, Seq("id")), None)

    val engine = new Engine(spark, s"$base/engine")
    engine.register(spec).processAllAvailable()
    // snapshot applied with no change files at all
    assert(spark.read.parquet(out).select("v").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("snap"))

    // change wave, then a restart on the same checkpoint: no re-snapshot
    writeCsv(in, "f1.csv", "1,w1,10,false")
    engine.delete("snap")
    engine.register(spec).processAllAvailable()
    val afterRestart = spark.read.parquet(out).select("id", "v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(afterRestart == Map(1 -> "w1", 2 -> "snap", 3 -> "snap"))

    // offset reset wipes marker + offsets: next start re-snapshots and
    // re-ingests — id 1 ends at 'w1' again (snapshot first, then replay)
    engine.pause("snap")
    engine.resetOffsets("snap")
    engine.resume("snap").processAllAvailable()
    val afterReset = spark.read.parquet(out).select("id", "v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(afterReset == Map(1 -> "w1", 2 -> "snap", 3 -> "snap"))
    engine.delete("snap")

    // validation: initial mode without a snapshot path, or with a
    // non-merge sink, is refused at registration
    intercept[IllegalArgumentException](engine.validate(spec.copy(
      source = spec.source.copy(snapshotPath = None))))
    intercept[IllegalArgumentException](engine.validate(spec.copy(
      sink = SinkSpec("logtable", out, Seq("id")))))
    intercept[IllegalArgumentException](engine.validate(spec.copy(
      source = spec.source.copy(snapshotMode = Some("bogus")))))
  }

  test("S8: publication autocreate modes resolve like the connector") {
    import graft.sources.PgCdc
    import graft.sources.PgCdc._
    val all = Seq("public.customers", "public.products", "public.orders")
    val incl = Seq("public.customers", "public.orders")
    assert(resolvePublication(AllTables, incl, all, None) == Right(all))
    assert(resolvePublication(Filtered, incl, all, None) == Right(incl))
    assert(resolvePublication(Disabled, incl, all, None).isLeft)
    assert(resolvePublication(Disabled, incl, all,
      Some(Seq("public.customers"))) == Right(Seq("public.customers")))
    assert(AutocreateMode.parse("filtered") == Filtered)
    // the raw PG-side refusal and the Debezium key-shape rule
    assert(PgCdc.validateDeletes("no_pk_tab", Nil, replicaIdentityFull = false).isLeft)
    assert(PgCdc.validateDeletes("no_pk_tab", Nil, replicaIdentityFull = true).isRight)
    assert(PgCdc.validateDeletes("pk_tab", Seq("col1"), replicaIdentityFull = false).isRight)
    assert(PgCdc.eventKeyFields(Nil, Seq("c1", "c2"), replicaIdentityFull = true)
      == Seq("c1", "c2"))
    assert(PgCdc.eventKeyFields(Seq("c1"), Seq("c1", "c2"), replicaIdentityFull = false)
      == Seq("c1"))
  }

  test("L14 semantic dial survives resume ACROSS a maintenance fold (resumeDials re-derives the grown plane count)") {
    import org.apache.spark.sql.DataFrame
    val base = Files.createTempDirectory("adm_dial").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val seed = docs.filter(col("doc_id") < 100)
    seed.write.parquet(s"$base/seed")
    docs.filter(col("doc_id") >= 300 && col("doc_id") < 320)
      .write.parquet(s"$base/bench")
    def stage(df: DataFrame, i: Int): Unit =
      graft.Tables.stageFile(df, Paths.get(in, f"w$i%02d.parquet"),
        1000000000000L + i * 60000L)
    // 8 pre-staged waves -> batches 0..7; at batch 7 the unfolded tail
    // (seed + b0..b6 = 8 parts) exceeds foldThreshold=6, so the
    // maintenance fold runs AND grows the plane dial (floor 2, ~450
    // reference embeddings -> scaledPlaneCount = 5)
    (0 until 8).foreach(i => stage(
      docs.filter(col("doc_id") >= 100 + 50 * i &&
        col("doc_id") < 100 + 50 * (i + 1) && col("doc_id") < 500), i))
    val engine = new Engine(spark, s"$base/engine")
    val spec =
      s"""{"name":"dial","source":{"type":"parquet","path":"$in",
         |  "schemaDdl":"doc_id BIGINT, text STRING",
         |  "keyFields":["doc_id"],"seqColumn":"doc_id","topic":"c",
         |  "maxFilesPerTrigger":"1"},
         |"transforms":[],
         |"sink":{"type":"admission","path":"$base/gate",
         |  "seedPath":"$base/seed","fused":"true","containment":"true",
         |  "semantic":"true","media":"true",
         |  "benchPath":"$base/bench","benchMediaPath":"$base/bench",
         |  "semPlanes":"2"}}""".stripMargin
    engine.registerJson(spec).processAllAvailable()
    // the fold committed under a GROWN dial; a fresh core resuming on
    // this state must re-derive that dial from the newest fold, not
    // fall back to the bootstrap floor
    val p = graft.pipeline.PipelineSpec.fromJson(spec)
    val resumed = graft.pipeline.AdmissionSink.coreFor(p.sink)
    assert(resumed.bootstrapped)
    resumed.resumeDials(spark)
    val foldDir = graft.text.AdmissionState
      .newestFold(s"$base/gate/state")
    assert(foldDir.nonEmpty, "batch 7 must have folded seed+b0..b6")
    val nFold = spark.read.parquet(s"${foldDir.get}/emb").count()
    val expected = graft.pipeline.AdmissionGate.scaledPlaneCount(nFold, floor = 2)
    assert(expected > 2, s"fixture must force growth (nFold=$nFold)")
    assert(resumed.currentPlaneCount == expected,
      "resume must re-derive the grown dial from the newest fold")
    // behavioral proof through the REST lifecycle: pause, stage a
    // backlog carrying token-REVERSED paraphrases of three seed docs
    // (same token bag -> identical hashed vector -> same bucket, but
    // shingle-novel, so ONLY the semantic leg can refuse them) plus a
    // fresh control doc; resume (a fresh incarnation re-derives the
    // dial) and the paraphrases must flag semantic_dup under the
    // GROWN-dial state while the control admits
    engine.pause("dial")
    val para = seed.filter(col("doc_id") % 30 === 0 && length(col("text")) > 120)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", reverse(graft.text.Dedup.tokens(col("text")))).as("text"))
    assert(para.count() >= 2, "need at least two paraphrase plants")
    // control: doc 499 with a tiny prefix — token bag CHANGED, so its
    // hashed vector differs and the semantic leg must stay silent
    // (near-dup/containment legs legitimately refuse it — irrelevant
    // here; the control guards against a mis-derived dial flagging
    // everything semantic_dup)
    stage(para.unionByName(
      docs.filter(col("doc_id") === 499)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(lit("zq "), col("text")).as("text"))), 8)
    engine.resume("dial")
    spark.streams.active.foreach(_.processAllAvailable())
    val last = spark.read.parquet(s"$base/gate/out")
      .filter(col("doc_id") >= 1000000L)
      .select("doc_id", "semantic_dup", "admitted").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSeq
    val paras = last.filter(_._1 < 2000000L)
    assert(paras.nonEmpty && paras.forall(t => t._2 && !t._3),
      s"paraphrases must flag semantic_dup under the resumed grown dial: $last")
    val control = last.filter(_._1 >= 2000000L)
    assert(control.nonEmpty && control.forall(t => !t._2),
      s"the control must not flag semantic_dup (the resumed dial isn't flagging everything): $last")
    engine.delete("dial")
  }

  test("L14 admission axis keys: a media leg registers without fused and flags a planted media dup, benchMediaPath requires media, semPlanes requires semantic; full set parses") {
    val base = Files.createTempDirectory("admaxes").toString
    val engine = new Engine(spark, s"$base/engine")
    def spec(sinkExtra: String) =
      s"""{"name":"ax","source":{"type":"parquet","path":"$base/in",
         |  "schemaDdl":"doc_id BIGINT, text STRING",
         |  "keyFields":["doc_id"],"seqColumn":"doc_id","topic":"c"},
         |"sink":{"type":"admission","path":"$base/gate",
         |  "seedPath":"$base/seed"$sinkExtra}}""".stripMargin
    val e2 = intercept[IllegalArgumentException](
      engine.registerJson(spec(""","fused":"true","benchMediaPath":"/x"""")))
    assert(e2.getMessage.contains("media=true"))
    val e3 = intercept[IllegalArgumentException](
      engine.registerJson(spec(""","fused":"true","semPlanes":"9"""")))
    assert(e3.getMessage.contains("semantic"))
    val p = PipelineSpec.fromJson(spec(
      ""","fused":"true","containment":"true","semantic":"true",""" +
      """"media":"true","benchPath":"/b","benchMediaPath":"/bm","semPlanes":"9""""))
    assert(p.sink.fused && p.sink.containment && p.sink.semantic &&
      p.sink.media && p.sink.semPlanes.contains(9) &&
      p.sink.benchPath.contains("/b") && p.sink.benchMediaPath.contains("/bm"))
    // every leg composes without fused: a media-only gate registers and
    // its fingerprint legs refuse planted media duplicates of seed docs.
    // +7M preserves both media id seeds (image 1M, audio 700k) and the
    // vowel swap keeps each payload's length, so both fingerprints
    // match the seed doc's while the text shingles do not
    import spark.implicits._
    val docs = (0 until 150).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Seq.fill(12 + i % 9)(
        Seq.fill(5)(('a' + r.nextInt(26)).toChar).mkString).mkString(" "))
    }.toDF("doc_id", "text")
    docs.filter(col("doc_id") < 100).write.parquet(s"$base/seed")
    Files.createDirectories(Paths.get(s"$base/in"))
    graft.Tables.stageFile(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
        .unionByName(docs.filter(col("doc_id") < 100 &&
            col("doc_id") % 25 === 0)
          .select((col("doc_id") + 7000000L).as("doc_id"),
            translate(col("text"), "aeiou", "uoiea").as("text"))),
      Paths.get(s"$base/in", "w00.parquet"), 1000000000000L)
    engine.registerJson(spec(""","media":"true"""")).processAllAvailable()
    engine.delete("ax")
    val v = spark.read.parquet(s"$base/gate/out")
    assert(!v.columns.contains("quality_keep"),
      "a gate without fused must not grow the quality leg")
    val plants = v.filter(col("doc_id") >= 7000000L).collect()
    assert(plants.length == 4)
    plants.foreach { r =>
      assert(r.getAs[Boolean]("image_dup") && r.getAs[Boolean]("audio_dup"),
        s"planted media dup ${r.getAs[Long]("doc_id")} must flag both media legs")
      assert(!r.getAs[Boolean]("admitted"))
    }
    assert(v.filter(col("doc_id") < 7000000L && col("admitted")).count() > 0)
  }

  test("L13 admission sink: offset reset wipes the gate root and the next resume re-ingests from scratch") {
    import org.apache.spark.sql.DataFrame
    val base = Files.createTempDirectory("engine_adm").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    docs.filter(col("doc_id") < 300).write.parquet(s"$base/seed")
    def stage(df: DataFrame, i: Int): Unit =
      graft.Tables.stageFile(df, Paths.get(in, f"w$i%02d.parquet"),
        1000000000000L + i * 60000L)
    stage(docs.filter(col("doc_id") >= 300 && col("doc_id") % 2 === 0), 0)
    stage(docs.filter(col("doc_id") >= 300 && col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") >= 300 &&
          col("doc_id") % 2 === 0 && col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)), 1)
    val engine = new Engine(spark, s"$base/engine")
    val spec =
      s"""{"name":"adm","source":{"type":"parquet","path":"$in",
         |  "schemaDdl":"doc_id BIGINT, text STRING",
         |  "keyFields":["doc_id"],"seqColumn":"doc_id","topic":"c",
         |  "maxFilesPerTrigger":"1"},
         |"transforms":[],
         |"sink":{"type":"admission","path":"$base/gate",
         |  "seedPath":"$base/seed"}}""".stripMargin
    engine.registerJson(spec).processAllAvailable()
    def verdicts(): Seq[(Long, Boolean)] =
      spark.read.parquet(s"$base/gate/out")
        .select("doc_id", "admitted").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toSeq.sorted
    val first = verdicts()
    assert(first.nonEmpty)
    // the wave-1 clones of wave-0-ADMITTED docs were refused — the
    // evolving reference worked through the lifecycle-managed sink
    assert(first.filter(_._1 >= 1000000L).forall(!_._2))
    // reset: only legal paused; wipes checkpoint AND the gate root
    engine.pause("adm")
    engine.resetOffsets("adm")
    assert(!Files.exists(Paths.get(s"$base/gate")),
      "offset reset must wipe the admission gate root with the offsets")
    // resume re-bootstraps and re-ingests the same files from scratch:
    // deterministic — the verdicts come back identical
    engine.resume("adm")
    spark.streams.active.foreach(_.processAllAvailable())
    assert(verdicts() == first,
      "re-ingest after reset must reproduce the verdicts")
    engine.delete("adm")
  }

  test("admission axis config persists at bootstrap: a resume with different axes refuses until an offset reset; omitted semPlanes resumes at the persisted dial") {
    val base = Files.createTempDirectory("axpersist").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    docs.filter(col("doc_id") < 100).write.parquet(s"$base/seed")
    graft.Tables.stageFile(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 150),
      Paths.get(in, "w00.parquet"), 1000000000000L)
    val engine = new Engine(spark, s"$base/engine")
    def spec(extra: String) =
      s"""{"name":"axp","source":{"type":"parquet","path":"$in",
         |  "schemaDdl":"doc_id BIGINT, text STRING",
         |  "keyFields":["doc_id"],"seqColumn":"doc_id","topic":"c",
         |  "maxFilesPerTrigger":"1"},
         |"transforms":[],
         |"sink":{"type":"admission","path":"$base/gate",
         |  "seedPath":"$base/seed"$extra}}""".stripMargin
    val full =
      ""","fused":"true","containment":"true","semantic":"true","semPlanes":"4""""
    engine.registerJson(spec(full)).processAllAvailable()
    engine.delete("axp") // checkpoint + gate retained, Connect-style
    // a reduced axis set on the same gate root would make the next
    // maintenance fold silently drop the disabled axes' sub-tables —
    // the persisted config refuses it at entry instead
    val e1 = intercept[IllegalStateException](engine.registerJson(
      spec(""","fused":"true","containment":"true"""")))
    assert(e1.getMessage.contains("axis") &&
      e1.getMessage.contains("reset"), e1.getMessage)
    // a different semantic dial is just as frozen (state buckets built
    // under the bootstrap dial)
    val e2 = intercept[IllegalStateException](engine.registerJson(spec(
      ""","fused":"true","containment":"true","semantic":"true","semPlanes":"6"""")))
    assert(e2.getMessage.contains("axis"), e2.getMessage)
    // the SAME axes with semPlanes OMITTED resume at the persisted
    // dial (the seed that derived it is retired)
    engine.registerJson(spec(
      ""","fused":"true","containment":"true","semantic":"true""""))
    spark.streams.active.foreach(_.processAllAvailable())
    assert(engine.status("axp")._2 == "RUNNING")
    // an offset reset wipes the gate (axes included): the changed
    // axis set now bootstraps fresh
    engine.pause("axp")
    engine.resetOffsets("axp")
    engine.delete("axp")
    engine.registerJson(spec(""","fused":"true","containment":"true""""))
    spark.streams.active.foreach(_.processAllAvailable())
    assert(engine.status("axp")._2 == "RUNNING")
    engine.delete("axp")
  }

  test("omitted semPlanes derives the corpus-scaled dial at bootstrap and the verdicts hash-match an explicit spec at that dial") {
    val baseRoot = Files.createTempDirectory("semdefault").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // a seed big enough that the derived dial EXCEEDS the legacy
    // fixture default (8): 10 replica bands of the 500-doc corpus →
    // scaledPlaneCount(5000) = 9, so a regression to the old hardcoded
    // default would make the two gates bucket differently and the
    // equality below fail
    val seed = (0 until 10).map(k =>
        docs.select((col("doc_id") + k * 10000L).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
    val expected = graft.pipeline.AdmissionGate.scaledPlaneCount(5000L)
    assert(expected > 8, s"fixture must exceed the legacy default (got $expected)")
    val wave = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"))
    def run(tag: String, dial: Option[Int]): Seq[String] = {
      val base = s"$baseRoot/$tag"
      Files.createDirectories(Paths.get(s"$base/in"))
      seed.write.parquet(s"$base/seed")
      graft.Tables.stageFile(wave, Paths.get(s"$base/in/w00.parquet"),
        1000000000000L)
      val engine = new Engine(spark, s"$base/engine")
      engine.registerJson(
        s"""{"name":"sd_$tag","source":{"type":"parquet","path":"$base/in",
           |  "schemaDdl":"doc_id BIGINT, text STRING",
           |  "keyFields":["doc_id"],"seqColumn":"doc_id","topic":"c",
           |  "maxFilesPerTrigger":"1"},
           |"transforms":[],
           |"sink":{"type":"admission","path":"$base/gate",
           |  "seedPath":"$base/seed","fused":"true","semantic":"true"
           |  ${dial.map(d => s""","semPlanes":"$d"""").getOrElse("")}}}"""
          .stripMargin).processAllAvailable()
      engine.delete(s"sd_$tag")
      // the persisted axis config carries the dial that actually ran
      val axes = Files.readString(Paths.get(s"$base/gate/state/.axes"))
      assert(axes.contains(s""""semPlanes":$expected"""),
        s"persisted dial must be the corpus-scaled count: $axes")
      spark.read.parquet(s"$base/gate/out").collect()
        .map(_.toString).sorted.toSeq
    }
    val omitted = run("omit", None)
    val explicit = run("expl", Some(expected))
    assert(omitted.nonEmpty && omitted == explicit,
      "an omitted semPlanes must produce the exact verdicts of an " +
        "explicit spec at the computed dial")
  }
}
