package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.{Cluster, PipelineSpec}

/** Distributed-mode worker group: sticky incremental rebalancing,
  * ownership routing, target-state preservation across moves, and
  * offset survival when a connector changes workers. */
class ClusterSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val p = s"target/tmp/clusterspec_$name"
    graft.util.Fs.deleteRecursive(Paths.get(p))
    Files.createDirectories(Paths.get(p))
    p
  }

  private def spec(name: String, in: String, state: String): PipelineSpec = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    PipelineSpec.fromJson(
      s"""{"name":"$name",
         |"source":{"type":"parquet","path":${m.writeValueAsString(in)},
         |  "schemaDdl":"id BIGINT, v STRING, seq BIGINT",
         |  "keyFields":["id"],"seqColumn":"seq","topic":"t.$name"},
         |"transforms":[],
         |"sink":{"type":"logtable","path":${m.writeValueAsString(state)},
         |  "keys":["id"]}}""".stripMargin)
  }

  /** `in`'s fixture, one `(id, v, seq)` row list per wave: returns
    * `stage(i)`, which lands wave `i` in `in`. */
  private def waves(in: String, rows: Seq[(Long, String, Long)]*): Int => Unit = {
    import spark.implicits._
    val stage = Tables.stageWaves(Tables.dirTag(in),
      rows.map(_.toDF("id", "v", "seq")))
    i => stage(i, Seq(Paths.get(in)))
  }

  test("sticky least-loaded assignment, incremental join/leave rebalance") {
    val base = tmp("assign")
    val cluster = new Cluster(spark, s"$base/root")
    val rt = cluster.addWorker("w0", now = 0L)
    cluster.addWorker("w1", now = 0L)
    val names = Seq("a", "b", "c", "d")
    names.foreach { n =>
      Files.createDirectories(Paths.get(s"$base/in_$n"))
      waves(s"$base/in_$n", Seq((1L, n, 0L)))(0)
      rt.register(spec(n, s"$base/in_$n", s"$base/state_$n"))
    }
    // least-loaded with smallest-id ties: a->w0, b->w1, c->w0, d->w1
    assert(cluster.assignments() ==
      Seq("a" -> "w0", "b" -> "w1", "c" -> "w0", "d" -> "w1"))
    assert(rt.workerId("b").contains("w1"))

    // leave: w1's connectors (b, d) orphan and land on w0; a and c
    // never move (stickiness)
    cluster.removeWorker("w1")
    assert(cluster.assignments().forall(_._2 == "w0"))

    // join: exactly the over-target excess leaves w0 — the two largest
    // names (c, d) move to w2; a and b stay put
    cluster.addWorker("w2", now = 0L)
    assert(cluster.assignments() ==
      Seq("a" -> "w0", "b" -> "w0", "c" -> "w2", "d" -> "w2"))
    names.foreach(n => assert(rt.status(n)._2 == "RUNNING", n))
    names.foreach(n => rt.delete(n))
    assert(rt.list().isEmpty && cluster.assignments().isEmpty)
  }

  test("paused target state survives a rebalance move") {
    val base = tmp("paused")
    val cluster = new Cluster(spark, s"$base/root")
    val rt = cluster.addWorker("w0", now = 0L)
    Files.createDirectories(Paths.get(s"$base/in"))
    waves(s"$base/in", Seq((1L, "x", 0L)))(0)
    rt.register(spec("p", s"$base/in", s"$base/state"))
    spark.streams.active.foreach(_.processAllAvailable())
    rt.pause("p")
    assert(rt.status("p")._2 == "PAUSED")
    // the move: a join big enough to revoke p from w0 cannot happen
    // with one connector, so force it with a leave+join cycle
    cluster.addWorker("w1", now = 0L)
    cluster.removeWorker("w0")
    assert(rt.workerId("p").contains("w1"))
    // moved WITHOUT running a batch: still paused on the new worker
    assert(rt.status("p")._2 == "PAUSED")
    rt.resume("p")
    assert(rt.status("p")._2 == "RUNNING")
    rt.delete("p")
  }

  test("offsets survive the move: no re-ingestion, new data still lands") {
    val base = tmp("offsets")
    val cluster = new Cluster(spark, s"$base/root")
    val rt = cluster.addWorker("w0", now = 0L)
    Files.createDirectories(Paths.get(s"$base/in"))
    val stage = waves(s"$base/in", Seq((1L, "v0", 0L), (2L, "v0", 0L)),
      Seq((2L, "v1", 1L), (3L, "v1", 1L)))
    stage(0)
    rt.register(spec("m", s"$base/in", s"$base/state"))
    spark.streams.active.foreach(_.processAllAvailable())
    val committed = rt.latestBatchId("m")
    assert(committed.nonEmpty)

    cluster.addWorker("w1", now = 0L)
    cluster.removeWorker("w0") // m moves to w1, resuming from the checkpoint
    assert(rt.workerId("m").contains("w1"))
    stage(1)
    spark.streams.active.foreach(_.processAllAvailable())
    // batch ids CONTINUE (the checkpoint moved with the pipeline) …
    assert(rt.latestBatchId("m").exists(id => committed.exists(_ < id)))
    // … and the merged state is exactly one application of both waves
    val rows = graft.sinks.LogTable.read(spark, s"$base/state", Seq("id"))
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "v0"), (2L, "v1"), (3L, "v1")))
    rt.delete("m")
  }

  test("storm: REST lifecycles on two workers race membership churn") {
    // distributed-mode concurrency surface: N clients running full
    // lifecycles through DIFFERENT workers' REST servers while the
    // group membership churns underneath (a third worker joining and
    // leaving, each change a rebalance). Every lifecycle step must
    // return its exact protocol code regardless of where its connector
    // happens to be placed at that instant, and the registry must end
    // empty on every surface. Lock-order sanity (cluster -> engine,
    // never the reverse) is what this exercises: a rebalance holds the
    // cluster monitor while bouncing engines, racing REST compound
    // routes that take the same monitor.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val base = tmp("storm")
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    waves(in, Seq((1L, "a", 0L), (2L, "b", 0L)))(0)
    val cluster = new Cluster(spark, s"$base/root")
    val rtA = cluster.addWorker("w0", now = 0L)
    val rtB = cluster.addWorker("w1", now = 0L)
    val shared = scala.collection.concurrent.TrieMap.empty[String, String]
    val serverA = new graft.pipeline.ConnectServer(rtA, sharedConfigs = Some(shared))
    val serverB = new graft.pipeline.ConnectServer(rtB, sharedConfigs = Some(shared))
    val urls = Seq(serverA.start(), serverB.start())
    val http = java.net.http.HttpClient.newHttpClient()
    def call(url: String, method: String, path: String,
             body: Option[String] = None): Int = {
      val b = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(url + path))
      http.send(body.fold(b.method(method,
          java.net.http.HttpRequest.BodyPublishers.noBody()))(s =>
          b.method(method, java.net.http.HttpRequest.BodyPublishers.ofString(s)))
        .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
        .statusCode()
    }
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def specJson(name: String): String =
      s"""{"name":"$name",
         |"source":{"type":"parquet","path":${m.writeValueAsString(in)},
         |  "schemaDdl":"id BIGINT, v STRING, seq BIGINT",
         |  "keyFields":["id"],"seqColumn":"seq","topic":"t.$name"},
         |"transforms":[],
         |"sink":{"type":"logtable","path":${m.writeValueAsString(s"$base/st_$name")},
         |  "keys":["id"]}}""".stripMargin
    val n = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n + 1)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val churning = new java.util.concurrent.atomic.AtomicBoolean(true)
      val churn = Future {
        var i = 0
        while (churning.get()) {
          cluster.addWorker(s"churn$i", now = 0L)
          Thread.sleep(20)
          cluster.removeWorker(s"churn$i")
          i += 1
        }
        i
      }
      val lifecycles = Await.result(
        Future.traverse((0 until n).toList) { i => Future {
          val nm = s"cs$i"; val url = urls(i % urls.size)
          Seq(
            call(url, "POST", "/connectors", Some(specJson(nm))),
            call(url, "GET", s"/connectors/$nm/status"),
            call(url, "PUT", s"/connectors/$nm/pause"),
            call(url, "PUT", s"/connectors/$nm/resume"),
            call(url, "POST", s"/connectors/$nm/restart"),
            call(url, "DELETE", s"/connectors/$nm"))
        }}, 180.seconds)
      churning.set(false)
      val churns = Await.result(churn, 180.seconds)
      assert(churns > 0, "membership never churned during the storm")
      assert(lifecycles.forall(_ == Seq(201, 200, 202, 202, 204, 204)),
        lifecycles.toString)
      assert(rtA.list().isEmpty && cluster.assignments().isEmpty)
      assert(call(urls(1), "GET", "/connectors/cs0/config") == 404)
    } finally { pool.shutdown(); serverA.stop(); serverB.stop() }
  }

  test("REST config update works cluster-wide and keeps committed offsets") {
    // PUT /connectors/{n}/config through one worker's REST while the
    // connector runs on ANOTHER worker: the compound
    // validate/delete/register sequence routes through the cluster, the
    // re-registered pipeline may land on any member, and — the Connect
    // contract — its committed offsets survive because the name pins
    // the checkpoint dir in the shared substrate
    val base = tmp("put")
    val cluster = new Cluster(spark, s"$base/root")
    val rtA = cluster.addWorker("w0", now = 0L)
    cluster.addWorker("w1", now = 0L)
    Files.createDirectories(Paths.get(s"$base/in"))
    val stage = waves(s"$base/in", Seq((1L, "v0", 0L)), Seq((2L, "v1", 1L)))
    stage(0)
    val shared = scala.collection.concurrent.TrieMap.empty[String, String]
    val serverB = new graft.pipeline.ConnectServer(cluster.runtime("w1"),
      sharedConfigs = Some(shared))
    val url = serverB.start()
    try {
      rtA.register(spec("put0", s"$base/in", s"$base/state")) // lands on w0
      assert(rtA.workerId("put0").contains("w0"))
      spark.streams.active.foreach(_.processAllAvailable())
      val committed = rtA.latestBatchId("put0").get
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val body = // same spec, touched option: a real config change
        s"""{"name":"put0",
           |"source":{"type":"parquet","path":${m.writeValueAsString(s"$base/in")},
           |  "schemaDdl":"id BIGINT, v STRING, seq BIGINT",
           |  "keyFields":["id"],"seqColumn":"seq","topic":"t.put0",
           |  "maxFilesPerTrigger":"2"},
           |"transforms":[],
           |"sink":{"type":"logtable","path":${m.writeValueAsString(s"$base/state")},
           |  "keys":["id"]}}""".stripMargin
      val http = java.net.http.HttpClient.newHttpClient()
      val r = http.send(java.net.http.HttpRequest
          .newBuilder(java.net.URI.create(s"$url/connectors/put0/config"))
          .method("PUT", java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, s"${r.statusCode()}: ${r.body()}")
      stage(1)
      spark.streams.active.foreach(_.processAllAvailable())
      // offsets survived the update: batch ids continue past the
      // pre-update commit, and wave 0 was not re-ingested (1 row per key)
      assert(rtA.latestBatchId("put0").exists(_ > committed))
      val rows = graft.sinks.LogTable.read(spark, s"$base/state", Seq("id"))
        .select("id", "v").orderBy("id")
        .collect().map(r2 => (r2.getLong(0), r2.getString(1))).toSeq
      assert(rows == Seq((1L, "v0"), (2L, "v1")))
      rtA.delete("put0")
    } finally serverB.stop()
  }

  test("group contracts: duplicate names 409, empty group rejects, unknown 404") {
    val base = tmp("contracts")
    val cluster = new Cluster(spark, s"$base/root")
    intercept[NoSuchElementException](cluster.removeWorker("ghost"))
    val rt = cluster.addWorker("w0", now = 0L)
    Files.createDirectories(Paths.get(s"$base/in"))
    waves(s"$base/in", Seq((1L, "x", 0L)))(0)
    rt.register(spec("dup", s"$base/in", s"$base/state"))
    intercept[IllegalStateException](
      rt.register(spec("dup", s"$base/in", s"$base/state2")))
    intercept[NoSuchElementException](rt.status("nope"))
    rt.delete("dup")
    cluster.removeWorker("w0")
    intercept[IllegalStateException](
      rt.register(spec("late", s"$base/in", s"$base/state3")))
    // validate on an empty group surfaces the same 'no workers' 409 shape
    // as register, not a head-of-empty-map crash
    val e = intercept[IllegalStateException](
      rt.validate(spec("late", s"$base/in", s"$base/state3")))
    assert(e.getMessage.contains("no workers"))
  }

  test("a failed START rolls back registration; ownerless pipelines stay manageable") {
    val base = tmp("wedge")
    val cluster = new Cluster(spark, s"$base/root")
    val rt = cluster.addWorker("w0", now = 0L)
    // passes validate but fails at stream START in this container: the
    // kafka connector jars are absent, so readSource throws inside
    // place() — the registration must roll back, not wedge the name
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val kafkaSpec =
      s"""{"name":"w",
         |"source":{"type":"kafka","path":"localhost:9092",
         |  "schemaDdl":"id BIGINT, v STRING","keyFields":["id"],"topic":"t"},
         |"transforms":[],
         |"sink":{"type":"append","path":${m.writeValueAsString(s"$base/out")}}}""".stripMargin
    intercept[IllegalStateException](rt.registerJson(kafkaSpec))
    assert(rt.list().isEmpty, "failed start must roll the registration back")
    // the name re-registers cleanly with a runnable config
    Files.createDirectories(Paths.get(s"$base/in"))
    waves(s"$base/in", Seq((1L, "x", 0L)))(0)
    rt.register(spec("w", s"$base/in", s"$base/state"))
    assert(rt.status("w")._2 == "RUNNING")
    // the LAST worker leaves: the pipeline stays registered and
    // manageable — UNASSIGNED status, target-state changes recorded,
    // re-placement on the next join honors them, delete works
    cluster.removeWorker("w0")
    assert(rt.list() == Seq("w"))
    assert(rt.status("w")._2 == "UNASSIGNED")
    rt.pause("w")
    cluster.addWorker("w1", now = 0L)
    assert(rt.workerId("w").contains("w1"))
    assert(rt.status("w")._2 == "PAUSED")
    rt.delete("w")
    assert(rt.list().isEmpty)
  }

  test("missed heartbeats evict a CRASHED worker; its connector resumes elsewhere exactly-once") {
    val base = tmp("liveness")
    val cluster = new Cluster(spark, s"$base/root")
    val rt0 = cluster.addWorker("w0", now = 0L)
    val rt1 = cluster.addWorker("w1", now = 0L)
    Files.createDirectories(Paths.get(s"$base/in"))
    val stage = waves(s"$base/in", Seq((1L, "v0", 0L), (2L, "v0", 0L)),
      Seq((2L, "v1", 1L), (3L, "v1", 1L)))
    stage(0)
    rt0.register(spec("hb", s"$base/in", s"$base/state"))
    assert(rt0.workerId("hb").contains("w0")) // least-loaded, smallest id
    spark.streams.active.foreach(_.processAllAvailable())
    val committed = rt0.latestBatchId("hb")
    assert(committed.nonEmpty)

    // w0's PROCESS dies — nobody calls removeWorker; only w1 keeps beating
    cluster.crashWorker("w0")
    cluster.heartbeat("w1", now = 30000L)
    // inside the session timeout w0 is late, not dead: nothing moves
    assert(cluster.sweepExpired(now = 5000L, timeoutMs = 10000L).isEmpty)
    assert(rt1.workerId("hb").contains("w0"))
    // past it, the sweep declares w0 dead and re-places hb on the survivor
    assert(cluster.sweepExpired(now = 30000L, timeoutMs = 10000L) == Seq("w0"))
    assert(cluster.workerIds == Seq("w1"))
    assert(rt1.workerId("hb").contains("w1"))
    assert(rt1.status("hb")._2 == "RUNNING")

    stage(1)
    spark.streams.active.foreach(_.processAllAvailable())
    // batch ids CONTINUE from the corpse's committed checkpoint …
    assert(rt1.latestBatchId("hb").exists(id => committed.exists(_ < id)))
    // … and the merged state is exactly one application of both waves
    val rows = graft.sinks.LogTable.read(spark, s"$base/state", Seq("id"))
      .select("id", "v").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "v0"), (2L, "v1"), (3L, "v1")))
    rt1.delete("hb")
  }
}
