package graft.examples

import java.nio.file.{Files, Paths}


import graft.Graft
import graft.pipeline.Engine

/**
 * End-to-end usage demo — what a user of the reference writes after
 * switching to this engine: build a session, declare a pipeline as JSON
 * (the connector-config analog), register it, watch state materialize,
 * exercise pause/resume and tombstones.
 *
 * Run: `sbt "runMain graft.examples.PipelineDemo"`.
 */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = Graft.sessionBuilder("graft-demo", Some(8))
      .master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = Files.createTempDirectory("graft_demo").toString
    val in = s"$base/in"; val state = s"$base/customers"
    Files.createDirectories(Paths.get(in))

    def drop(name: String, rows: String*): Unit =
      Files.writeString(Paths.get(in, name),
        ("customer_id,name,balance,seq,__deleted" +: rows).mkString("\n"))

    // the connector-config analog (SURVEY.md §2.5 L1)
    val spec =
      s"""{
         |  "name": "csv_customers",
         |  "source": {"type": "csv", "path": "$in",
         |    "schemaDdl": "customer_id INT, name STRING, balance DOUBLE, seq LONG, __deleted STRING",
         |    "keyFields": ["customer_id"], "seqColumn": "seq", "topic": "om.customers"},
         |  "transforms": [
         |    {"type": "insertField", "field": "name_upper", "value": "upper(value.name)"},
         |    {"type": "maskField", "field": "balance",
         |     "when": "topicNameMatches", "whenPattern": "om\\\\.customers"}
         |  ],
         |  "sink": {"type": "table", "path": "$state", "keys": ["customer_id"]},
         |  "triggerMs": 500
         |}""".stripMargin

    val engine = new Engine(spark, s"$base/engine")
    drop("batch1.csv", "1,alice,100.5,10,false", "2,bob,7.25,11,false")
    val q = engine.registerJson(spec)
    q.processAllAvailable()
    println("--- after batch 1 (insert x2):")
    spark.read.parquet(state).orderBy("customer_id").show(false)

    engine.pause("csv_customers")
    drop("batch2.csv", "1,alice2,999.0,20,false", "2,bob,0,21,true", "3,carol,55.5,22,false")
    engine.resume("csv_customers").processAllAvailable()
    println("--- after batch 2 (update 1, DELETE 2 via tombstone, insert 3):")
    spark.read.parquet(state).orderBy("customer_id").show(false)
    println("--- status: " + engine.status("csv_customers"))
    println("--- schema history (Debezium schema-changes analog):")
    graft.sinks.SchemaHistory.load(state).foreach(println)
    engine.delete("csv_customers")

    // the scale-path sink: same spec, kind "logtable" — each batch
    // appends an O(batch) delta version instead of rewriting state
    val ltState = s"$base/customers_log"
    val lt = engine.registerJson(spec
      .replace(""""name": "csv_customers"""", """"name": "csv_customers_log"""")
      .replace(s""""type": "table", "path": "$state"""",
        s""""type": "logtable", "path": "$ltState""""))
    lt.processAllAvailable()
    println("--- logtable versions: " + graft.sinks.LogTable.versions(ltState))
    println("--- logtable merged state:")
    graft.sinks.LogTable.read(spark, ltState, Seq("customer_id"))
      .orderBy("customer_id").show(false)
    engine.delete("csv_customers_log")

    // registry-governed Avro wire (Confluent framing + evolution)
    import org.apache.spark.sql.types._
    val reg = new graft.codec.SchemaRegistry()
    val frame = graft.model.Connect.toConnectFrame(
      graft.sinks.LogTable.read(spark, ltState, Seq("customer_id"))
        .select("customer_id", "name"), Seq("customer_id"), "om.customers", "customer_id")
    val framed = graft.codec.AvroCodec.encodeFramed(frame, reg, "om.customers-value")
    reg.register("om.customers-value", StructType(
      frame.schema("value").dataType.asInstanceOf[StructType].fields :+
        StructField("tier", StringType, nullable = true)))
    println("--- framed avro decoded under the evolved v2 reader (tier = null):")
    graft.codec.AvroCodec.decodeFramed(framed, reg, "om.customers-value")
      .select("value.*").orderBy("customer_id").show(false)

    // the same two services over their REST protocols — what the
    // reference drives with httpie/curl (`scripts/register_connector`,
    // the registry's curl labs) runs against in-process HTTP facades
    val connectSrv = new graft.pipeline.ConnectServer(engine)
    val registrySrv = new graft.codec.RegistryServer(reg)
    val (cUrl, rUrl) = (connectSrv.start(), registrySrv.start())
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def get(url: String) = http.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      println(s"--- GET $cUrl/connectors -> " + get(s"$cUrl/connectors"))
      println(s"--- GET $rUrl/subjects  -> " + get(s"$rUrl/subjects"))
      println("--- GET /subjects/om.customers-value/versions/latest -> " +
        get(s"$rUrl/subjects/om.customers-value/versions/latest").take(120) + "…")
      val client = new graft.codec.RegistryHttpClient(rUrl)
      println("--- framed decode via HTTP-resolved schemas (same rows):")
      graft.codec.AvroCodec.decodeFramedWith(framed,
          client.writerSchemas("om.customers-value"),
          client.latest("om.customers-value")._3)
        .select("value.*").orderBy("customer_id").show(false)
    } finally { connectSrv.stop(); registrySrv.stop() }
    spark.stop()
  }
}
