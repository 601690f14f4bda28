package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.pipeline.{ConnectServer, Engine}
import graft.sinks.LogTable

/** The Connect worker REST surface: lifecycle over HTTP against a real
  * streaming pipeline, plus the protocol's status codes — 201/409 on
  * register, 202 pause/resume, 204 delete, 404 unknown, 409 on
  * offset-reset-while-running. */
class ConnectServerSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val http = java.net.http.HttpClient.newHttpClient()

  private def call(url: String, method: String, path: String,
                   body: Option[String] = None) = {
    val b = java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(url + path))
    http.send(body.fold(b.method(method,
        java.net.http.HttpRequest.BodyPublishers.noBody()))(s =>
        b.method(method, java.net.http.HttpRequest.BodyPublishers.ofString(s)))
      .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
  }

  private def writeCsv(dir: String, name: String, lines: String*): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name),
      ("id,v,seq,__deleted" +: lines).mkString("\n"))
  }

  private def specJson(name: String, in: String, out: String): String =
    s"""{
       |  "name": "$name",
       |  "source": {"type": "csv", "path": "$in",
       |    "schemaDdl": "id INT, v STRING, seq LONG, __deleted STRING",
       |    "keyFields": ["id"], "seqColumn": "seq", "topic": "om.t"},
       |  "transforms": [],
       |  "sink": {"type": "table", "path": "$out", "keys": ["id"]}
       |}""".stripMargin

  test("REST lifecycle: register, status, pause with backlog, resume, delete") {
    val base = Files.createTempDirectory("connectrest").toString
    val in = s"$base/in"; val out = s"$base/state"
    writeCsv(in, "f1.csv", "1,a,10,false", "2,b,11,false")
    val engine = new Engine(spark, s"$base/engine")
    val server = new ConnectServer(engine)
    val url = server.start()
    try {
      val post = call(url, "POST", "/connectors", Some(specJson("p1", in, out)))
      assert(post.statusCode() == 201)
      assert(mapper.readTree(post.body()).get("name").asText() == "p1")
      // the posted config comes back verbatim under "config"
      val got = mapper.readTree(
        call(url, "GET", "/connectors/p1").body()).get("config")
      assert(got.get("source").get("type").asText() == "csv")
      assert(call(url, "GET", "/connectors").body() == "[\"p1\"]")
      // duplicate register violates the single-writer rule -> 409
      assert(call(url, "POST", "/connectors",
        Some(specJson("p1", in, out))).statusCode() == 409)

      spark.streams.active.foreach(_.processAllAvailable())
      val st = mapper.readTree(
        call(url, "GET", "/connectors/p1/status").body())
      assert(st.get("connector").get("state").asText() == "RUNNING")
      assert(st.get("tasks").get(0).get("state").asText() == "RUNNING")

      // KIP-875 read side: the committed offset log is visible over HTTP
      val off = mapper.readTree(call(url, "GET", "/connectors/p1/offsets").body())
      assert(off.get("offsets").get("latest_batch_id").asLong() >= 0L)

      // offsets reset while running -> 409 (pause first, says Connect)
      assert(call(url, "DELETE", "/connectors/p1/offsets").statusCode() == 409)

      assert(call(url, "PUT", "/connectors/p1/pause").statusCode() == 202)
      assert(mapper.readTree(call(url, "GET", "/connectors/p1/status").body())
        .get("connector").get("state").asText() == "PAUSED")
      writeCsv(in, "f2.csv", "1,a2,20,false", "3,c,21,false")
      assert(call(url, "PUT", "/connectors/p1/resume").statusCode() == 202)
      spark.streams.active.foreach(_.processAllAvailable())
      val s2 = LogTable.read(spark, out, Seq("id")).select("id", "v")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSet
      assert(s2 == Set((1, "a2"), (2, "b"), (3, "c")))

      assert(call(url, "POST", "/connectors/p1/restart").statusCode() == 204)
      spark.streams.active.foreach(_.processAllAvailable())
      assert(call(url, "DELETE", "/connectors/p1").statusCode() == 204)
      assert(call(url, "GET", "/connectors").body() == "[]")
      assert(call(url, "GET", "/connectors/p1/status").statusCode() == 404)
    } finally server.stop()
  }

  test("PUT config updates in place and keeps committed offsets") {
    val base = Files.createTempDirectory("connectrest").toString
    val in = s"$base/in"; val out = s"$base/state"
    writeCsv(in, "f1.csv", "1,a,10,false", "2,b,11,false")
    val engine = new Engine(spark, s"$base/engine")
    val server = new ConnectServer(engine)
    val url = server.start()
    try {
      assert(call(url, "PUT", "/connectors/p2/config",
        Some(specJson("p2", in, out))).statusCode() == 201) // create
      spark.streams.active.foreach(_.processAllAvailable())
      // update: same connector, new config adds an SMT
      val withSmt = specJson("p2", in, out).replace(""""transforms": []""",
        """"transforms": [{"type": "insertField", "field": "vv",
          |"value": "upper(value.v)"}]""".stripMargin)
      assert(call(url, "PUT", "/connectors/p2/config",
        Some(withSmt)).statusCode() == 200)
      assert(mapper.readTree(call(url, "GET", "/connectors/p2/config").body())
        .get("transforms").size() == 1)
      writeCsv(in, "f2.csv", "3,c,20,false")
      spark.streams.active.foreach(_.processAllAvailable())
      val rows = LogTable.read(spark, out, Seq("id")).select("id", "vv").collect()
        .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
      // offsets continued: f1 rows were NOT re-ingested under the new
      // SMT (vv stays null for them); only the new row carries it
      assert(rows == Map(1 -> None, 2 -> None, 3 -> Some("C")))
      // a config whose name disagrees with the path is rejected
      assert(call(url, "PUT", "/connectors/p2/config",
        Some(specJson("other", in, out))).statusCode() == 400)
    } finally { server.stop(); engine.delete("p2") }
  }

  test("a bad config update 400s and keeps the existing connector running") {
    val base = Files.createTempDirectory("connectrest").toString
    val in = s"$base/in"; val out = s"$base/state"
    writeCsv(in, "f1.csv", "1,a,10,false")
    val engine = new Engine(spark, s"$base/engine")
    val server = new ConnectServer(engine)
    val url = server.start()
    try {
      val good = specJson("p4", in, out)
      assert(call(url, "POST", "/connectors", Some(good)).statusCode() == 201)
      spark.streams.active.foreach(_.processAllAvailable())
      // parses and name-matches, but fails validation: keyed sink with
      // the seqColumn dropped — Connect rejects the update and keeps
      // the existing connector, so the bad spec must not get to delete
      // the running pipeline first
      val bad = good.replace(""""seqColumn": "seq", """, "")
      assert(call(url, "PUT", "/connectors/p4/config",
        Some(bad)).statusCode() == 400)
      assert(mapper.readTree(call(url, "GET", "/connectors/p4/status").body())
        .get("connector").get("state").asText() == "RUNNING")
      // the stored config is still the good one, not the rejected body
      assert(mapper.readTree(call(url, "GET", "/connectors/p4/config").body())
        .get("source").has("seqColumn"))
      // and an unknown-sink update is refused the same way
      val badSink = good.replace(""""type": "table"""", """"type": "nope"""")
      assert(call(url, "PUT", "/connectors/p4/config",
        Some(badSink)).statusCode() == 400)
      assert(engine.list() == Seq("p4"))
    } finally { server.stop(); engine.delete("p4") }
  }

  test("restart bounces a running connector and preserves a paused target state") {
    val base = Files.createTempDirectory("connectrest").toString
    val in = s"$base/in"; val out = s"$base/state"
    writeCsv(in, "f1.csv", "1,a,10,false")
    val engine = new Engine(spark, s"$base/engine")
    val server = new ConnectServer(engine)
    val url = server.start()
    try {
      assert(call(url, "POST", "/connectors",
        Some(specJson("p5", in, out))).statusCode() == 201)
      spark.streams.active.foreach(_.processAllAvailable())
      // restart from RUNNING: stays RUNNING and keeps processing
      assert(call(url, "POST", "/connectors/p5/restart").statusCode() == 204)
      assert(mapper.readTree(call(url, "GET", "/connectors/p5/status").body())
        .get("connector").get("state").asText() == "RUNNING")
      writeCsv(in, "f2.csv", "2,b,20,false")
      spark.streams.active.foreach(_.processAllAvailable())
      assert(LogTable.read(spark, out, Seq("id")).count() == 2)
      // restart from PAUSED: Connect's restart does NOT silently
      // resume — the paused target state survives the bounce
      assert(call(url, "PUT", "/connectors/p5/pause").statusCode() == 202)
      assert(call(url, "POST", "/connectors/p5/restart").statusCode() == 204)
      assert(mapper.readTree(call(url, "GET", "/connectors/p5/status").body())
        .get("connector").get("state").asText() == "PAUSED")
      // and resume still works afterwards
      assert(call(url, "PUT", "/connectors/p5/resume").statusCode() == 202)
      assert(mapper.readTree(call(url, "GET", "/connectors/p5/status").body())
        .get("connector").get("state").asText() == "RUNNING")
    } finally { server.stop(); engine.delete("p5") }
  }

  test("config update of a PAUSED connector runs no batch until resume") {
    // Connect's contract: a paused connector stays paused through a
    // config change and processes NOTHING in between — a register-then-
    // pause implementation leaks a window where a micro-batch commits
    val base = Files.createTempDirectory("connectrest").toString
    val in = s"$base/in"; val out = s"$base/state"
    writeCsv(in, "f1.csv", "1,a,10,false")
    val engine = new Engine(spark, s"$base/engine")
    val server = new ConnectServer(engine)
    val url = server.start()
    try {
      assert(call(url, "POST", "/connectors",
        Some(specJson("p6", in, out))).statusCode() == 201)
      spark.streams.active.foreach(_.processAllAvailable())
      assert(call(url, "PUT", "/connectors/p6/pause").statusCode() == 202)
      // backlog lands while paused
      writeCsv(in, "f2.csv", "2,b,20,false")
      // config update: still paused, and the backlog row must NOT have
      // been ingested by the update itself
      val withSmt = specJson("p6", in, out).replace(""""transforms": []""",
        """"transforms": [{"type": "insertField", "field": "vv",
          |"value": "upper(value.v)"}]""".stripMargin)
      assert(call(url, "PUT", "/connectors/p6/config",
        Some(withSmt)).statusCode() == 200)
      spark.streams.active.foreach(_.processAllAvailable())
      assert(mapper.readTree(call(url, "GET", "/connectors/p6/status").body())
        .get("connector").get("state").asText() == "PAUSED")
      assert(LogTable.read(spark, out, Seq("id")).count() == 1,
        "a micro-batch committed during the paused config update")
      // resume: the backlog flows under the NEW config
      assert(call(url, "PUT", "/connectors/p6/resume").statusCode() == 202)
      spark.streams.active.foreach(_.processAllAvailable())
      val rows = LogTable.read(spark, out, Seq("id")).select("id", "vv").collect()
        .map(r => r.getInt(0) -> Option(r.getString(1))).toMap
      assert(rows == Map(1 -> None, 2 -> Some("B")))
    } finally { server.stop(); engine.delete("p6") }
  }

  test("concurrent lifecycle storm: distinct and colliding names stay consistent") {
    // the reference runs a distributed worker (`scripts/connect_start.sh:1`);
    // this engine is one in-process worker, so the concurrency surface is
    // N REST clients hammering one registry: full lifecycles on distinct
    // names must all succeed, racing registers/deletes on ONE name must
    // split exactly 201/409 and 204/404, and the registry must end empty
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val base = Files.createTempDirectory("connectstorm").toString
    val in = s"$base/in"
    writeCsv(in, "f1.csv", "1,a,10,false", "2,b,11,false")
    val engine = new Engine(spark, s"$base/engine")
    val server = new ConnectServer(engine)
    val url = server.start()
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      // phase 1 — distinct names: every step of every thread's lifecycle
      // returns its exact protocol code (any lost pipeline would surface
      // as a 404/409 somewhere in the sequence)
      val lifecycles = Await.result(
        Future.traverse((0 until n).toList) { i => Future {
          val nm = s"storm$i"
          Seq(
            call(url, "POST", "/connectors",
              Some(specJson(nm, in, s"$base/state$i"))).statusCode(),
            call(url, "GET", s"/connectors/$nm/status").statusCode(),
            call(url, "PUT", s"/connectors/$nm/pause").statusCode(),
            call(url, "PUT", s"/connectors/$nm/resume").statusCode(),
            call(url, "POST", s"/connectors/$nm/restart").statusCode(),
            call(url, "DELETE", s"/connectors/$nm").statusCode())
        }}, 180.seconds)
      assert(lifecycles.forall(_ == Seq(201, 200, 202, 202, 204, 204)),
        lifecycles.toString)

      // phase 2 — colliding name: barrier-released racers, three rounds
      for (_ <- 0 until 3) {
        val post = new java.util.concurrent.CyclicBarrier(n)
        val posts = Await.result(
          Future.traverse((0 until n).toList) { _ => Future {
            post.await()
            call(url, "POST", "/connectors",
              Some(specJson("shared", in, s"$base/shared"))).statusCode()
          }}, 180.seconds)
        assert(posts.count(_ == 201) == 1 && posts.count(_ == 409) == n - 1,
          posts.toString)
        val del = new java.util.concurrent.CyclicBarrier(n)
        val dels = Await.result(
          Future.traverse((0 until n).toList) { _ => Future {
            del.await()
            call(url, "DELETE", "/connectors/shared").statusCode()
          }}, 180.seconds)
        assert(dels.count(_ == 204) == 1 && dels.count(_ == 404) == n - 1,
          dels.toString)
      }

      // aftermath: empty registry over both surfaces, no orphaned config
      assert(call(url, "GET", "/connectors").body() == "[]")
      assert(engine.list().isEmpty)
      assert(call(url, "GET", "/connectors/shared/config").statusCode() == 404)
    } finally { pool.shutdown(); server.stop() }
  }

  test("unknown connector and malformed register map to 404/400") {
    val engine = new Engine(spark,
      Files.createTempDirectory("connectrest").toString)
    val server = new ConnectServer(engine)
    val url = server.start()
    try {
      assert(call(url, "GET", "/connectors/none").statusCode() == 404)
      assert(call(url, "PUT", "/connectors/none/pause").statusCode() == 404)
      assert(call(url, "POST", "/connectors",
        Some("""{"name":"x"}""")).statusCode() == 400)
      // a body with no 'name' member gets a descriptive 400, not an NPE
      val noName = call(url, "POST", "/connectors", Some("""{"source":{}}"""))
      assert(noName.statusCode() == 400 && noName.body().contains("name"),
        noName.body())
      assert(call(url, "GET", "/connectors").body() == "[]") // nothing leaked
      val plugins = mapper.readTree(call(url, "GET", "/connector-plugins").body())
      assert(plugins.size() == 9 &&
        plugins.get(0).get("type").asText() == "source")
      assert(plugins.get(8).get("class").asText() == "admission" &&
        plugins.get(8).get("type").asText() == "sink")
    } finally server.stop()
  }
}
