package graft

import org.apache.spark.sql.types._
import graft.model.Connect
import graft.pipeline.TransformSpec

/** Every SMT kind resolvable from a pipeline spec actually resolves and
  * runs — guards the string-keyed registry against drift. */
class TransformRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def frame() = Connect.toConnectFrame(
    Seq((1, "alice", "2020-01-02 03:04:05")).toDF("id", "name", "ts"),
    Seq("id"), "om.t", "id")

  private def run(kind: String, args: Map[String, String] = Map.empty,
                  fields: Seq[String] = Seq.empty) =
    TransformSpec(kind, args, fields).toTransform(frame())

  test("all registry kinds resolve and execute") {
    assert(run("valueToKey", fields = Seq("name"))
      .select("key.name").head().getString(0) == "alice")
    assert(run("extractKeyField", Map("field" -> "id"))
      .select("key").head().getInt(0) == 1)
    assert(run("regexRouter", Map("pattern" -> "om\\.(.*)", "replacement" -> "$1"))
      .select("topic").head().getString(0) == "t")
    assert(run("timestampConverter", Map("field" -> "ts", "target" -> "Timestamp",
      "sourceFormat" -> "yyyy-MM-dd HH:mm:ss"))
      .schema("value").dataType.asInstanceOf[StructType]("ts").dataType == TimestampType)
    assert(run("filter", Map("predicate" -> "value.id = 1")).count() == 1)
    assert(run("insertField", Map("field" -> "x", "value" -> "upper(value.name)"))
      .select("value.x").head().getString(0) == "ALICE")
    assert(run("maskField", Map("field" -> "name"))
      .select("value.name").head().isNullAt(0))
    assert(run("renameField", Map("from" -> "name", "to" -> "nm"))
      .select("value.nm").head().getString(0) == "alice")
    assert(run("excludeFields", fields = Seq("ts"))
      .schema("value").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("id", "name"))
    assert(run("includeFields", fields = Seq("id"))
      .schema("value").dataType.asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("id"))
    assert(run("hoistField", Map("name" -> "row"))
      .select("value.row.name").head().getString(0) == "alice")
    assert(run("cast", Map("field" -> "id", "to" -> "STRING"))
      .select("value.id").head().getString(0) == "1")
    val flat = TransformSpec("hoistField", Map("name" -> "row"), Seq.empty)
      .toTransform.andThen(
        TransformSpec("flatten", Map.empty, Seq.empty).toTransform)(frame())
    assert(flat.schema("value").dataType.asInstanceOf[StructType]
      .fieldNames.contains("row_name"))
    val unwrapped = TransformSpec("hoistField", Map("name" -> "after"), Seq.empty)
      .toTransform.andThen(
        TransformSpec("extractNewRecordState", Map.empty, Seq.empty).toTransform)(frame())
    assert(unwrapped.select("value.name").head().getString(0) == "alice")
    assert(run("timestampRouter", Map("tsField" -> "ts",
      "format" -> "${topic}/${timestamp}", "tsFormat" -> "yyyy"))
      .select("topic").head().getString(0) == "om.t/2020")
    intercept[IllegalArgumentException](run("nonsense"))
  }
}
