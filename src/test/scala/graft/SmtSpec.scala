package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Connect
import graft.smt.Smt

class SmtSpec extends SparkSpec {
  import spark.implicits._

  private def frame() = Connect.toConnectFrame(
    Seq((1, "alice", "2020-01-02 03:04:05"),
        (2, "bob", "2021-06-07 08:09:10")).toDF("id", "name", "ts"),
    Seq("id"), "om.t", "id")

  test("T1 valueToKey builds a struct key from value fields") {
    val out = Smt.valueToKey(Seq("id", "name"))(frame())
    val k = out.select("key.*").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(k.toSet == Set((1, "alice"), (2, "bob")))
  }

  test("T1 valueToKey keeps a tombstone's own key (struct() is never NULL)") {
    // a delete must not collapse onto an all-null key: when the frame's
    // key shape matches the requested one, the tombstone keeps it
    val withTomb = frame().withColumn("value",
      when(col("key.id") === 2, lit(null)).otherwise(col("value")))
    val out = Smt.valueToKey(Seq("id"))(withTomb)
    val tomb = out.filter(col("value").isNull).select("key.id").head()
    assert(!tomb.isNullAt(0) && tomb.getInt(0) == 2)
    // live rows still get the value-lifted key
    assert(out.filter(col("value").isNotNull).select("key.id")
      .as[Int].collect().toSet == Set(1))
  }

  test("T1 valueToKey: same-shaped key with different field NAMES nulls the tombstone key") {
    // key is struct(id:int); requesting struct(num:int) matches shape
    // but not names — keeping the old key would fail analysis (CaseWhen
    // compares field names), so the tombstone's key must become NULL
    val withNum = frame()
      .withColumn("value", when(col("key.id") === 2, lit(null))
        .otherwise(struct(col("value.id"), col("value.name"),
          (col("value.id") * 10).as("num"))))
    val out = Smt.valueToKey(Seq("num"))(withNum)
    val tomb = out.filter(col("value").isNull).select("key").head()
    assert(tomb.isNullAt(0), "name-mismatched tombstone key must be NULL")
    assert(out.filter(col("value").isNotNull).select("key.num")
      .as[Int].collect().toSet == Set(10))
  }

  test("T2 extractKeyField flattens the key to a scalar") {
    val out = Smt.extractKeyField("id")(frame())
    assert(out.schema("key").dataType == IntegerType)
    assert(out.select("key").as[Int].collect().toSet == Set(1, 2))
  }

  test("T3 regexRouter rewrites topic by pattern incl. dot->dash form") {
    val f = frame().withColumn("topic", lit("server.db.table"))
    val out = Smt.regexRouter("""(.*)\.(.*)\.(.*)""", "$1-$2-$3")(f)
    assert(out.select("topic").head().getString(0) == "server-db-table")
  }

  test("T4 timestampConverter string->timestamp->unix round trip") {
    val out = Smt.chain(
      Smt.timestampConverter("ts", Smt.TsTarget.Timestamp,
        Some("yyyy-MM-dd HH:mm:ss")),
      Smt.insertValueField("epoch", col("value.ts")),
      Smt.timestampConverter("epoch", Smt.TsTarget.Unix))(frame())
    val r = out.filter(col("key.id") === 1).select("value.epoch").head()
    assert(r.getLong(0) == 1577934245000L) // 2020-01-02T03:04:05Z
  }

  test("T5 extractNewRecordState keeps after, preserves tombstones") {
    val ev = Seq((1, "a", "c"), (2, "b", "d")).toDF("id", "payload", "op")
    val row = struct(col("id"), col("payload"))
    val env = ev.select(col("id").as("key"),
      struct(lit(null).cast(StructType(Seq(
        StructField("id", IntegerType), StructField("payload", StringType)))).as("before"),
        when(col("op") =!= "d", row).as("after"),
        col("op")).as("value"),
      lit("t").as("topic"), col("id").cast("long").as("seq"))
    val keep = Smt.extractNewRecordState(dropTombstones = false)(env)
    assert(keep.count() == 2)
    assert(keep.filter(col("value").isNull).count() == 1)
    val drop = Smt.extractNewRecordState(dropTombstones = true)(env)
    assert(drop.count() == 1)
  }

  test("SMTs are tombstone-safe: null value rows pass through untouched") {
    val f = frame().withColumn("value",
      when(col("key.id") === 1, col("value")))
    val out = Smt.chain(
      Smt.insertValueField("x", lit(9)),
      Smt.timestampConverter("ts", Smt.TsTarget.Timestamp, Some("yyyy-MM-dd HH:mm:ss")),
      Smt.filterRecords(col("value.x") === 9))(f)
    assert(out.count() == 2) // tombstone survived the filter + rewrites
    assert(out.filter(col("value").isNull).count() == 1)
  }

  test("stock SMTs: mask/rename/include/hoist/flatten/cast, tombstone-safe") {
    val f = frame().withColumn("value",
      when(col("key.id") === 1, col("value"))) // id=2 is a tombstone
    val out = Smt.chain(
      Smt.includeFields(Seq("id", "name")),
      Smt.renameFields(Map("name" -> "nm")),
      Smt.maskField("nm"),
      Smt.castFields(Map("id" -> StringType)),
      Smt.hoistField("row"),
      Smt.flattenValue("_"))(f)
    assert(out.count() == 2)
    assert(out.filter(col("value").isNull).count() == 1) // tombstone survived
    val live = out.filter(col("key.id") === 1).select("value.*").head()
    assert(live.schema.fieldNames.toSeq == Seq("row_id", "row_nm"))
    assert(live.getString(0) == "1") // cast int -> string
    assert(live.isNullAt(1))         // masked
  }

  test("TimestampRouter substitutes topic and formatted time") {
    val out = Smt.timestampRouter(
      lit("2024-03-15 10:00:00").cast(TimestampType),
      "pre-${timestamp}.${topic}!", "yyyyMMdd")(frame())
    assert(out.select("topic").head().getString(0) == "pre-20240315.om.t!")
  }

  test("T6 chain applies in order") {
    val out = Smt.chain(
      Smt.valueToKey(Seq("name")),
      Smt.extractKeyField("name"))(frame())
    assert(out.select("key").as[String].collect().toSet == Set("alice", "bob"))
  }

  test("predicates gate SMT application per record; negate inverts") {
    val f = frame().withColumn("topic",
      when(col("value.id") === 1, "om.a").otherwise("om.b"))
    def names(df: org.apache.spark.sql.DataFrame): Map[Int, Option[String]] =
      df.select(col("value.id"), col("value.name")).collect()
        .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    val masked = names(Smt.whenPredicate(
      Smt.Predicates.topicNameMatches("om\\.a"),
      Smt.maskField("name"))(f))
    assert(masked(1).isEmpty && masked(2).contains("bob"))
    val negated = names(Smt.whenPredicate(
      Smt.Predicates.topicNameMatches("om\\.a"),
      Smt.maskField("name"), negate = true)(f))
    assert(negated(1).contains("alice") && negated(2).isEmpty)
    // TopicNameMatches is a FULL match, not a substring search
    val partial = names(Smt.whenPredicate(
      Smt.Predicates.topicNameMatches("om"),
      Smt.maskField("name"))(f))
    assert(partial(1).contains("alice") && partial(2).contains("bob"))
  }

  test("RecordIsTombstone predicate: only tombstones go through the transform") {
    val f = frame().withColumn("value",
      when(col("value.id") === 2, col("value"))) // id=1 becomes a tombstone
    // route tombstones to a dead-topic, keep live rows where they are
    val out = Smt.whenPredicate(Smt.Predicates.recordIsTombstone,
      df => df.withColumn("topic", lit("om.tombstones")))(f)
    val topics = out.select(col("key.id"), col("topic")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(topics(1) == "om.tombstones" && topics(2) == "om.t")
  }

  test("headers: insert replaces on key, headerFrom move drops the field, hasHeaderKey gates") {
    val f = frame()
    val out = Smt.chain(
      Smt.insertHeader("h", lit("v1")),
      Smt.insertHeader("h", lit("v2")),               // replace, not append
      Smt.headerFrom(Seq("name"), Seq("who"), move = true))(f)
    val r = out.select(col("key.id"),
      element_at(col("headers"), "h"), element_at(col("headers"), "who"))
      .collect().map(x => x.getInt(0) -> ((x.getString(1), x.getString(2)))).toMap
    assert(r(1) == ("v2", "alice") && r(2) == ("v2", "bob"))
    assert(!out.schema("value").dataType.asInstanceOf[StructType]
      .fieldNames.contains("name")) // moved out of the value
    // hasHeaderKey gates per record: with the header present on every
    // row (insertHeader creates the KEY even when the value expression
    // is null) the mask hits all rows; after dropHeaders removes the
    // key, the same predicate matches nothing
    def insertOnly1(df: org.apache.spark.sql.DataFrame) =
      Smt.insertHeader("only1", when(col("value.id") === 1, lit("y")))(df)
    val gateAll = Smt.whenPredicate(Smt.Predicates.hasHeaderKey("only1"),
      Smt.maskField("ts"))(insertOnly1(f))
    assert(gateAll.filter(col("value.ts").isNull).count() == 2)
    val gateNone = Smt.whenPredicate(Smt.Predicates.hasHeaderKey("only1"),
      Smt.maskField("ts"))(Smt.dropHeaders("only1")(insertOnly1(f)))
    assert(gateNone.filter(col("value.ts").isNull).count() == 0)
  }

  test("spec-driven predicate config wires through TransformSpec") {
    val f = frame().withColumn("topic",
      when(col("value.id") === 1, "om.a").otherwise("om.b"))
    val t = graft.pipeline.TransformSpec("maskField",
      Map("field" -> "name", "when" -> "topicNameMatches",
        "whenPattern" -> "om\\.a"), Seq.empty).toTransform
    val out = t(f).select(col("value.id"), col("value.name")).collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
    assert(out(1).isEmpty && out(2).contains("bob"))
    intercept[IllegalArgumentException] {
      graft.pipeline.TransformSpec("maskField",
        Map("field" -> "name", "when" -> "nope"), Seq.empty).toTransform
    }
  }
}
