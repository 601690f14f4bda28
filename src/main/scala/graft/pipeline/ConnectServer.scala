package graft.pipeline

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/**
 * L9 — the Connect worker REST surface over the [[Engine]]: an
 * in-process HTTP facade speaking the lifecycle protocol the
 * reference's ops scripts drive with httpie/curl — `scripts/
 * register_connector:1` (`POST /connectors`), `scripts/
 * delete_connector:1` (`DELETE /connectors/{name}`), `scripts/
 * show_connectors:1` (`GET /connectors`), plus the status / pause /
 * resume / restart / offset-reset endpoints the labs hit inline
 * (`실습수행/JDBC Source Connector 실습.md` REST sections). The
 * request body is the engine's pipeline-spec JSON (the analog of the
 * reference's `connector_configs` JSON files).
 *
 * Same JDK-httpserver pattern as [[graft.codec.RegistryServer]] — no
 * extra dependencies; the facade owns NO state beyond the posted
 * config bodies (returned verbatim by `GET /connectors/{name}`), so
 * engine-API users and REST users see one registry of pipelines.
 *
 * Protocol fidelity notes: POST returns 201 with the connector
 * payload; `PUT …/config` is Connect's create-or-update (200 on
 * update, 201 on create) — the connector restarts on the new config
 * but, because the name pins the checkpoint dir and delete retains
 * it, resumes from its committed offsets, exactly Connect's
 * config-changes-don't-reset-progress contract; a duplicate POST
 * 409s (the single-writer rule); pause /
 * resume return 202 (they are asynchronous in Connect); restart and
 * DELETE return 204; status has the `{connector: {state}, tasks:
 * [...]}` shape with a FAILED task carrying its `trace`; offsets
 * reset (`DELETE /connectors/{name}/offsets`, Connect's KIP-875
 * shape) 409s while the connector runs.
 */
final class ConnectServer(engine: ConnectRuntime, port: Int = 0,
                          sharedConfigs: Option[scala.collection.concurrent.TrieMap[String, String]] = None) {
  import ConnectServer._

  // distributed mode passes ONE shared map to every worker's server (the
  // config-topic analog: a config POSTed on any worker reads back on all)
  private val configs = sharedConfigs.getOrElse(
    scala.collection.concurrent.TrieMap.empty[String, String])
  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Start listening; returns the base URL (ephemeral port by default).
   * Requests run on a cached thread pool — without an executor the JDK
   * server handles every exchange on its single dispatcher thread, which
   * would serialize clients behind a slow register (a real Connect
   * worker serves its REST resources concurrently). */
  def start(): String = synchronized {
    require(server == null, "already started")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    pool = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()
    s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); pool.shutdown(); server = null }
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      val segs = ex.getRequestURI.getPath.split('/').filter(_.nonEmpty).toList
      (ex.getRequestMethod, segs) match {
        case ("GET", List("connectors")) =>
          json(ex, 200, engine.list().map(quote).mkString("[", ",", "]"))
        case ("POST", List("connectors")) =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val nameNode = mapper.readTree(body).get("name")
          if (nameNode == null || nameNode.isNull)
            throw new IllegalArgumentException(
              "missing 'name' member in connector config")
          val name = nameNode.asText
          // the engine monitor makes register + config-store one atomic
          // step: a concurrent DELETE of the same name interleaving
          // between them would otherwise strip the new connector's
          // config while leaving the pipeline registered
          engine.monitor.synchronized {
            engine.registerJson(body) // IllegalStateException -> 409 below
            configs(name) = body
          }
          json(ex, 201, connectorPayload(name))
        case ("GET", List("connectors", n)) =>
          requireKnown(n)
          json(ex, 200, connectorPayload(n))
        case ("GET", List("connectors", n, "config")) =>
          requireKnown(n)
          json(ex, 200, configs.getOrElse(n, "{}"))
        case ("PUT", List("connectors", n, "config")) =>
          // Connect's config UPDATE: the connector restarts with the new
          // config but keeps its identity — and because delete retains
          // the checkpoint and the name pins the checkpoint dir, the
          // re-registered pipeline resumes from the committed offsets
          // (Connect semantics: config changes don't reset progress)
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val spec = PipelineSpec.fromJson(body)
          require(spec.name == n,
            s"config name '${spec.name}' does not match connector '$n'")
          // validate BEFORE touching the running connector: Connect
          // rejects a bad config update and keeps the existing one
          // running — a spec that parses but would fail registration
          // (unknown sink kind, keyed sink without seqColumn, …) must
          // 400 while the old pipeline is still alive
          engine.validate(spec)
          val existed = engine.monitor.synchronized {
            val existed = engine.list().contains(n)
            // rollback source: the REGISTERED spec, not the REST body —
            // a connector registered through the engine API (no body in
            // `configs`) must survive a failed update too
            val oldSpec = engine.specOf(n)
            // Connect config updates preserve the target state: a
            // paused connector gets the new config but stays paused
            val wasPaused = existed && engine.status(n)._2 == "PAUSED"
            if (existed) engine.delete(n)
            // a paused connector must not run a single batch through a
            // config update: adopt(running=false) registers the new spec
            // with the PAUSED target state and NO query started —
            // register-then-pause would leave a window where a
            // micro-batch could commit
            try {
              if (wasPaused) engine.adopt(spec, running = false)
              else engine.register(spec)
            } catch { case e: Exception =>
              // registration still failed past validation (e.g. a source
              // path error at stream start): restore the previous
              // connector so the failed update is a no-op, then surface
              // the original error
              try oldSpec.foreach { s =>
                if (wasPaused) engine.adopt(s, running = false)
                else engine.register(s)
              } catch { case restore: Exception => e.addSuppressed(restore) }
              throw e
            }
            configs(n) = body
            existed
          }
          json(ex, if (existed) 200 else 201, connectorPayload(n))
        case ("GET", List("connectors", n, "status")) =>
          requireKnown(n)
          val (_, s) = engine.status(n)
          // Connect states; a failure carries its trace on the task
          val (state, trace) = s.split(": ", 2) match {
            case Array(st, tr) => (st, Some(tr))
            case _ => (s, None)
          }
          // distributed mode labels state with the owning worker, like
          // Connect's worker_id in the status payload
          val wid = engine.workerId(n)
            .map(w => s""","worker_id":${quote(w)}""").getOrElse("")
          json(ex, 200,
            s"""{"name":${quote(n)},"connector":{"state":${quote(state)}$wid},""" +
              s""""tasks":[{"id":0,"state":${quote(state)}$wid""" +
              trace.map(t => s""","trace":${quote(t)}""").getOrElse("") + "}]}")
        case ("PUT", List("connectors", n, "pause")) =>
          requireKnown(n); engine.pause(n); empty(ex, 202)
        case ("PUT", List("connectors", n, "resume")) =>
          requireKnown(n); engine.resume(n); empty(ex, 202)
        case ("POST", List("connectors", n, "restart")) =>
          // the dedicated engine path: no observable PAUSED window, and
          // a paused connector's target state survives (Connect restart
          // does not silently resume)
          requireKnown(n); engine.restart(n); empty(ex, 204)
        case ("DELETE", List("connectors", n)) =>
          // atomic check-then-delete: two racing DELETEs must split
          // 204/404 (Connect's contract), not both observe the name
          // alive and both report success
          engine.monitor.synchronized {
            requireKnown(n)
            engine.delete(n); configs.remove(n)
          }
          empty(ex, 204)
        case ("GET", List("connectors", n, "offsets")) =>
          requireKnown(n) // KIP-875 read side: committed progress
          val off = engine.latestBatchId(n)
            .map(id => s"""{"latest_batch_id":$id}""").getOrElse("null")
          json(ex, 200, s"""{"name":${quote(n)},"offsets":$off}""")
        case ("DELETE", List("connectors", n, "offsets")) =>
          requireKnown(n)
          engine.resetOffsets(n) // IllegalStateException (running) -> 409
          json(ex, 200,
            s"""{"message":"The offsets for this connector have been reset successfully."}""")
        case ("GET", List("connector-plugins")) =>
          // the installed-connector listing the labs inspect before
          // registering: the kinds the Engine dispatches on
          val plugins = Engine.SourceKinds.map(_ -> "source") ++
            Engine.SinkKinds.map(_ -> "sink")
          json(ex, 200, plugins.map { case (c, t) =>
            s"""{"class":${quote(c)},"type":${quote(t)}}"""
          }.mkString("[", ",", "]"))
        case (m, _) =>
          err(ex, 404, s"no route for $m ${ex.getRequestURI}")
      }
    } catch {
      case e: java.util.NoSuchElementException => err(ex, 404, e.getMessage)
      case e: IllegalStateException =>
        // an environment error (missing connector jars) is not a
        // lifecycle conflict — 500 keeps clients from retrying a
        // delete+re-POST loop against a 409 that can never clear
        if (Option(e.getMessage).exists(_.contains("unavailable in this environment")))
          err(ex, 500, e.getMessage)
        else err(ex, 409, e.getMessage)
      case e: Exception =>
        err(ex, 400, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally ex.close()

  private def requireKnown(name: String): Unit =
    if (!engine.list().contains(name))
      throw new java.util.NoSuchElementException(s"no pipeline '$name'")

  private def connectorPayload(name: String): String =
    s"""{"name":${quote(name)},"config":${configs.getOrElse(name, "{}")}}"""

  private def json(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  private def empty(ex: HttpExchange, status: Int): Unit =
    ex.sendResponseHeaders(status, -1)

  private def err(ex: HttpExchange, status: Int, msg: String): Unit =
    // an exception thrown AFTER a response was sent must not call
    // sendResponseHeaders twice — that masks the original error with
    // an "already sent" IllegalStateException
    if (ex.getResponseCode == -1)
      json(ex, status,
        s"""{"error_code":$status,"message":${quote(String.valueOf(msg))}}""")
}

object ConnectServer {
  private val mapper = new ObjectMapper()
  private def quote(s: String): String = mapper.writeValueAsString(s)
}

/**
 * Client side of the Connect REST surface — what the reference's
 * httpie scripts do, over JDK `java.net.http` (the [[ConnectServer]]
 * analog of [[graft.codec.RegistryHttpClient]]). A status of 400 or
 * above throws with the response body.
 */
final class ConnectHttpClient(baseUrl: String) {
  private val http = java.net.http.HttpClient.newHttpClient()

  /** Send one request; returns the status code and the body. */
  def send(method: String, path: String,
           body: Option[String] = None): (Int, String) = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(baseUrl + path))
    val r = http.send(body.fold(b.method(method,
        java.net.http.HttpRequest.BodyPublishers.noBody()))(s =>
        b.method(method, java.net.http.HttpRequest.BodyPublishers.ofString(s)))
      .build(), java.net.http.HttpResponse.BodyHandlers.ofString())
    require(r.statusCode() < 400,
      s"$method $path -> HTTP ${r.statusCode()}: ${r.body()}")
    (r.statusCode(), r.body())
  }

  /** [[send]], keeping only the body. */
  def call(method: String, path: String, body: Option[String] = None): String =
    send(method, path, body)._2
}
