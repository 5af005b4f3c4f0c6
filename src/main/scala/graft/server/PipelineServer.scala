package graft.server

import java.net.InetSocketAddress
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.EventReplay
import graft.vpl.{VplCompiler, VplParser}
import graft.vpl.VplAst.VProgram
import graft.vpl.VplParser.VplParseError

/** The runtime pipeline-management HTTP surface — the reference CLI's
  * `server` mode (varpulis-cli/src/api.rs:1-2299, docs/api/openapi.yaml
  * `/api/v1/pipelines*`): POST a VPL program to deploy it, inject
  * events over HTTP, read back the output events each inject produced,
  * poll status/metrics, DELETE to undeploy. Tenants/cluster/Raft/chat
  * endpoints are the §6 infra non-goal; checkpoint encoding is owned
  * by Spark's state store (VERDICT r13 #5).
  *
  * Spark-first shape: a deployed pipeline IS a set of Structured
  * Streaming queries. Deploy compiles every stream of the program in
  * streaming mode over a spool directory seeded with a zero-row
  * staged file ([[EventReplay.stageEmpty]]); each compiled stream
  * runs append-mode through foreachBatch into a driver-side buffer
  * AND out through its bound `.to` connectors. Inject validates the
  * JSON events and appends them to the spool as one phase file
  * ([[EventReplay.stageEvents]] — zero-padded sequence, disjoint
  * event_id range, event time advancing 1 s per inject), drives every
  * query with `processAllAvailable()`, and returns the rows each run
  * gained — exactly "the output events emitted by processing this
  * inject", the reference's synchronous-inject contract
  * (api.rs handle_inject). Windowed streams emit when their watermark
  * closes a window, so an inject's outputs can surface on a LATER
  * inject — the same emit-on-close behavior the reference documents.
  *
  * Transport is the JDK built-in HttpServer (the [[graft.metrics
  * .MetricsServer]] precedent — zero new dependencies) on a daemon
  * thread pool (an open /logs SSE connection must not block the
  * control plane; the data path is the Spark queries, not this
  * server). `apiKey = Some(k)` enforces the reference's
  * `x-api-key` header on every /api/v1 route (401 `invalid_api_key`);
  * None runs open, the reference's default standalone mode.
  */
final class PipelineServer private (
    spark: SparkSession,
    bind: InetSocketAddress,
    apiKey: Option[String],
    requestsPerSecond: Option[Int],
    tls: Option[javax.net.ssl.SSLContext]) {

  import PipelineServer._

  private val mapper = new ObjectMapper()
  // the reference's default burst is 2× the rate (rate_limit.rs
  // RateLimitConfig::new); None runs unthrottled, its standalone mode
  private val limiter = requestsPerSecond.map(r =>
    new RateLimiter(rps = r, burst = math.max(1, r * 2)))
  private val pipelines = new ConcurrentHashMap[String, Pipeline]()
  private val nextId = new AtomicLong(0L)
  private val startNanos = System.nanoTime()

  // ------------------------------------------------------------------
  // tenants (openapi.yaml /api/v1/tenants*, tenant.rs TenantManager)
  // ------------------------------------------------------------------

  /** SaaS tenants by id and by api key. The configured server key is
    * the "default" tenant (the reference's standalone mode) AND the
    * admin key for the tenant CRUD surface (main.rs: admin_key =
    * auth_config.api_key()).
    */
  private val tenants = new ConcurrentHashMap[String, Tenant]()
  private val tenantsByKey = new ConcurrentHashMap[String, Tenant]()
  private val tenantSeq = new AtomicLong(0L) // stable list order
  private val defaultTenant =
    new Tenant("default", "default", apiKey.getOrElse(""), Quota.default, 0L)

  /** "https" when a TLS context is configured (main.rs --tls-cert/
    * --tls-key: cert+key present ⇒ the listener speaks ONLY TLS —
    * plaintext requests fail the handshake, there is no downgrade).
    */
  def scheme: String = if (tls.isDefined) "https" else "http"

  // disable Nagle on the JDK server: with delayed ACKs it adds ~40 ms
  // to every keep-alive response, which dominates request-per-key
  // clients (the HTTP enrichment fetch measured 48 ms/req without it)
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server: HttpServer = tls match {
    case Some(ctx) =>
      val s = com.sun.net.httpserver.HttpsServer.create(bind, 0)
      s.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(ctx))
      s
    case None => HttpServer.create(bind, 0)
  }
  server.createContext("/health", exact("/health") { x =>
    if (x.getRequestMethod != "GET") methodNotAllowed(x)
    else {
      val o = mapper.createObjectNode()
      o.put("status", "healthy")
      o.put("role", "engine")
      o.put("version", "graft")
      o.put("uptime_seconds", (System.nanoTime() - startNanos) / 1e9)
      respondJson(x, 200, o)
    }
  })
  server.createContext("/ready", exact("/ready") { x =>
    if (x.getRequestMethod != "GET") methodNotAllowed(x)
    else {
      val ps = pipelines.values.asScala.toSeq
      val o = mapper.createObjectNode()
      o.put("status", "ready")
      o.put("engine_loaded", true)
      o.put("streams_count", ps.map(_.runs.size).sum)
      o.put("events_processed", ps.map(_.eventsProcessed).sum)
      o.put("output_events_emitted", ps.map(_.outputEmitted).sum)
      respondJson(x, 200, o)
    }
  })
  // one context for the whole /api/v1 tree: the JDK server matches
  // contexts by longest STRING prefix (so "/api/v1/pipelines" would
  // also catch /api/v1/pipelinesfoo — ADVICE r14 #3); route() verifies
  // exact path segments before dispatching
  server.createContext("/api/v1", new HttpHandler {
    override def handle(x: HttpExchange): Unit =
      try route(x)
      catch {
        // NonFatal: a VM error must propagate, not answer a chatty 500
        case scala.util.control.NonFatal(e) =>
          Try(error(x, 500, "engine_error",
            s"${e.getClass.getSimpleName}: " +
              s"${Option(e.getMessage).getOrElse("(no message)")}"))
      }
  })
  server.createContext("/", new HttpHandler {
    override def handle(x: HttpExchange): Unit =
      error(x, 404, "not_found", "unknown route")
  })
  // a cached daemon pool rather than serial dispatch: /logs holds an
  // SSE connection open and must not block the control plane (the
  // mutating routes serialize per pipeline via p.synchronized)
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
    r => { val t = new Thread(r, "graft-api"); t.setDaemon(true); t }))
  server.start()

  /** The actually-bound port (differs from the requested one when 0). */
  def port: Int = server.getAddress.getPort

  def stop(): Unit = {
    pipelines.keySet().asScala.toSeq.foreach(undeploy)
    server.stop(0)
  }

  // ------------------------------------------------------------------
  // routing
  // ------------------------------------------------------------------

  private def route(x: HttpExchange): Unit = {
    // throttle BEFORE auth so a keyless flood can't buy unthrottled
    // 401 work. Buckets key on the api key ONLY when it is a
    // VALID key — the configured server key or a live tenant's key
    // (the authenticated tenant's own bucket — per-tenant
    // accounting); anything else keys on the client address (the
    // reference's per-IP tracking). Keying on the PRESENTED header
    // would let a flooder mint a fresh full bucket per request by
    // rotating arbitrary key values — and evict honest buckets
    // through the LRU cap while doing it.
    limiter.foreach { l =>
      val presented = Option(x.getRequestHeaders.getFirst("x-api-key"))
      val key =
        if (apiKey.isDefined &&
            presented.exists(p => ctEq(p, apiKey.get)))
          "key:" + presented.get
        else if (presented.exists(tenantsByKey.containsKey))
          "key:" + presented.get
        else "ip:" + x.getRemoteAddress.getAddress.getHostAddress
      l.check(key) match {
        case Left(retryAfterSecs) =>
          x.getResponseHeaders.add("Retry-After", retryAfterSecs.toString)
          error(x, 429, "rate_limited", "Too many requests"); return
        case Right(remaining) =>
          x.getResponseHeaders.add("X-RateLimit-Remaining", remaining.toString)
      }
    }
    val path = x.getRequestURI.getPath.stripSuffix("/")
    val m = x.getRequestMethod
    val parts = path.split("/").filter(_.nonEmpty) // api, v1, pipelines, ...
    // tenant-admin routes authenticate with x-admin-key (openapi
    // AdminKeyAuth), not x-api-key — dispatch them before the
    // data-plane auth
    if (parts.length >= 3 && parts(0) == "api" && parts(1) == "v1" &&
        parts(2) == "tenants") {
      tenantsRoute(x, parts.drop(3).toList, m, path); return
    }
    // data-plane auth: the configured server key acts as the default
    // tenant; any live tenant's api key scopes the request to it.
    // The configured-key comparison is constant-time (auth.rs
    // constant_time_compare); the tenant lookup is a hash-index get —
    // the reference's own api_key_index HashMap shape
    // (tenant.rs get_tenant_by_api_key), with random UUID keys
    val t: Tenant = {
      val presented = Option(x.getRequestHeaders.getFirst("x-api-key"))
      if (apiKey.isEmpty) defaultTenant
      else if (presented.exists(p => ctEq(p, apiKey.get))) defaultTenant
      else presented.flatMap(k => Option(tenantsByKey.get(k))) match {
        case Some(tenant) => tenant
        case None =>
          error(x, 401, "invalid_api_key", "Invalid API key"); return
      }
    }
    if (parts.length >= 3 && parts(0) == "api" && parts(1) == "v1" &&
        parts(2) == "usage") {
      if (parts.length > 3) { error(x, 404, "not_found", s"unknown route $path") }
      else if (m != "GET") methodNotAllowed(x)
      else usage(x, t)
      return
    }
    // exact segment boundary: /api/v1/pipelinesfoo must 404, not
    // dispatch as list/deploy (the context prefix alone can't tell)
    if (parts.length < 3 || parts(0) != "api" || parts(1) != "v1" ||
        parts(2) != "pipelines") {
      error(x, 404, "not_found", s"unknown route $path"); return
    }
    (parts.drop(3).toList, m) match {
      case (Nil, "POST")   => deploy(x, t)
      case (Nil, "GET")    => list(x, t)
      case (id :: Nil, "GET")    => withPipeline(x, id, t)(info(x, _))
      case (id :: Nil, "DELETE") => withPipeline(x, id, t) { p =>
        undeploy(p.id)
        val o = mapper.createObjectNode(); o.put("deleted", true)
        respondJson(x, 200, o)
      }
      case (id :: "events" :: Nil, "POST") =>
        withPipeline(x, id, t)(inject(x, _, batch = false))
      case (id :: "events-batch" :: Nil, "POST") =>
        withPipeline(x, id, t)(inject(x, _, batch = true))
      case (id :: "reload" :: Nil, "POST") =>
        withPipeline(x, id, t)(reload(x, _))
      case (id :: "checkpoint" :: Nil, "POST") =>
        withPipeline(x, id, t)(checkpoint(x, _))
      case (id :: "restore" :: Nil, "POST") =>
        withPipeline(x, id, t)(restore(x, _))
      case (id :: "logs" :: Nil, "GET") =>
        withPipeline(x, id, t)(logsSse(x, _))
      case (id :: "metrics" :: Nil, "GET") =>
        withPipeline(x, id, t) { p =>
          val o = mapper.createObjectNode()
          o.put("pipeline_id", p.id)
          o.put("events_processed", p.eventsProcessed)
          o.put("output_events_emitted", p.outputEmitted)
          respondJson(x, 200, o)
        }
      case (Nil, _) | (_ :: Nil, _) | (_ :: "events" :: Nil, _) |
          (_ :: "events-batch" :: Nil, _) | (_ :: "metrics" :: Nil, _) |
          (_ :: "reload" :: Nil, _) | (_ :: "logs" :: Nil, _) |
          (_ :: "checkpoint" :: Nil, _) | (_ :: "restore" :: Nil, _) =>
        methodNotAllowed(x)
      case _ => error(x, 404, "not_found", s"unknown route $path")
    }
  }

  /** GET /api/v1/usage — the reference's tenant usage summary
    * (api.rs handle_usage, openapi UsageResponse): lifetime event
    * counters, active pipeline count and the quota block, scoped to
    * the AUTHENTICATED tenant (the server key is the "default"
    * tenant running the reference's default tier — tenant.rs
    * TenantQuota::default: 10 pipelines, 10k ev/s, 50 streams).
    */
  private def usage(x: HttpExchange, t: Tenant): Unit = {
    val ps = pipelines.values.asScala.toSeq.filter(_.tenant == t.id)
    val o = mapper.createObjectNode()
    o.put("tenant_id", t.id)
    // lifetime counters: active pipelines plus the totals retired on
    // undeploy — deleting a pipeline must not subtract its history
    // from the tenant usage report
    o.put("events_processed",
      t.retiredEventsProcessed.get() + ps.map(_.eventsProcessed).sum)
    o.put("output_events_emitted",
      t.retiredOutputEmitted.get() + ps.map(_.outputEmitted).sum)
    o.put("active_pipelines", ps.size)
    o.set[ObjectNode]("quota", quotaJson(t.quota))
    respondJson(x, 200, o)
  }

  private def quotaJson(q: Quota): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("max_pipelines", q.maxPipelines)
    o.put("max_events_per_second", q.maxEventsPerSecond)
    o.put("max_streams_per_pipeline", q.maxStreamsPerPipeline)
    o
  }

  // ------------------------------------------------------------------
  // tenant CRUD (api.rs handle_create_tenant/list/get/delete;
  // openapi.yaml /api/v1/tenants — AdminKeyAuth via x-admin-key)
  // ------------------------------------------------------------------

  private def tenantsRoute(x: HttpExchange, rest: List[String],
      m: String, path: String): Unit = {
    // admin auth first (api.rs validate_admin_key): no configured
    // server key means the admin surface is OFF — 403, not open
    apiKey match {
      case None =>
        error(x, 403, "admin_disabled",
          "Admin API is disabled (no --api-key configured)")
        return
      case Some(k) =>
        if (!Option(x.getRequestHeaders.getFirst("x-admin-key"))
            .exists(p => ctEq(p, k))) {
          error(x, 401, "invalid_admin_key", "Invalid admin key"); return
        }
    }
    (rest, m) match {
      case (Nil, "POST")         => createTenant(x)
      case (Nil, "GET")          => listTenants(x)
      case (id :: Nil, "GET")    => tenantDetail(x, id)
      case (id :: Nil, "DELETE") => deleteTenant(x, id)
      case (Nil, _) | (_ :: Nil, _) => methodNotAllowed(x)
      case _ => error(x, 404, "not_found", s"unknown route $path")
    }
  }

  private def createTenant(x: HttpExchange): Unit = {
    val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
    val req = Try(mapper.readTree(body)) match {
      case Success(n) if n != null && n.hasNonNull("name") => n
      case Success(_) =>
        error(x, 400, "parse_error", "need {name}"); return
      case Failure(e) =>
        error(x, 400, "parse_error", s"invalid JSON: ${e.getMessage}"); return
    }
    val quota = Quota.ofTier(Option(req.get("quota_tier")).map(_.asText()))
    val id = s"t-${java.util.UUID.randomUUID()}"
    val key = java.util.UUID.randomUUID().toString
    val t = new Tenant(id, req.get("name").asText(), key, quota,
      tenantSeq.incrementAndGet())
    // the UUID key can't collide with a live one, but mirror the
    // reference's create_tenant AlreadyExists contract anyway
    if (tenantsByKey.putIfAbsent(key, t) != null) {
      error(x, 409, "already_exists", "api key already exists"); return
    }
    tenants.put(id, t)
    val o = mapper.createObjectNode()
    o.put("id", id); o.put("name", t.name); o.put("api_key", key)
    o.set[ObjectNode]("quota", quotaJson(quota))
    respondJson(x, 201, o)
  }

  private def listTenants(x: HttpExchange): Unit = {
    // pagination contract (varpulis-core pagination.rs): default
    // limit 50, hard cap 1000 — an over-cap request is a 400, not a
    // silent clamp
    val params = Option(x.getRequestURI.getQuery).getOrElse("")
      .split("&").filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
      }.toMap
    def intParam(name: String): Option[Int] =
      params.get(name).flatMap(v => Try(v.toInt).toOption)
    val limit = intParam("limit").getOrElse(50)
    val offset = intParam("offset").getOrElse(0)
    // the reference's params are unsigned (pagination.rs usize) —
    // negatives are malformed, not clampable
    if (limit > 1000 || limit < 0 || offset < 0) {
      error(x, 400, "invalid_limit",
        "limit must be 0..1000 and offset non-negative"); return
    }
    val all = tenants.values.asScala.toSeq.sortBy(_.seq)
    val page = all.slice(offset, offset + limit)
    val o = mapper.createObjectNode()
    val arr = o.putArray("tenants")
    page.foreach { t =>
      val e = arr.addObject()
      e.put("id", t.id); e.put("name", t.name); e.put("api_key", t.apiKey)
      e.set[ObjectNode]("quota", quotaJson(t.quota)): Unit
    }
    o.put("total", all.size)
    val meta = mapper.createObjectNode()
    meta.put("total", all.size); meta.put("limit", limit)
    meta.put("offset", offset)
    meta.put("has_more", offset + page.size < all.size)
    o.set[ObjectNode]("pagination", meta)
    respondJson(x, 200, o)
  }

  private def tenantDetail(x: HttpExchange, id: String): Unit =
    Option(tenants.get(id)) match {
      case None => error(x, 404, "tenant_not_found", "Tenant not found")
      case Some(t) =>
        val ps = pipelines.values.asScala.toSeq.filter(_.tenant == t.id)
        val o = mapper.createObjectNode()
        o.put("id", t.id); o.put("name", t.name); o.put("api_key", t.apiKey)
        o.set[ObjectNode]("quota", quotaJson(t.quota))
        val u = mapper.createObjectNode()
        u.put("events_processed",
          t.retiredEventsProcessed.get() + ps.map(_.eventsProcessed).sum)
        u.put("output_events_emitted",
          t.retiredOutputEmitted.get() + ps.map(_.outputEmitted).sum)
        u.put("active_pipelines", ps.size)
        o.set[ObjectNode]("usage", u)
        o.put("pipeline_count", ps.size)
        respondJson(x, 200, o)
    }

  private def deleteTenant(x: HttpExchange, id: String): Unit =
    Option(tenants.remove(id)) match {
      // "not_found" here vs GET's "tenant_not_found" mirrors the
      // reference exactly: handle_get_tenant emits tenant_not_found,
      // handle_delete_tenant routes through tenant_error_response
      // (api.rs:1250-1260) which maps NotFound → not_found
      case None => error(x, 404, "not_found", "Tenant not found")
      case Some(t) =>
        // revoke the key FIRST (in-flight requests stop resolving),
        // then tear down the tenant's pipelines
        tenantsByKey.remove(t.apiKey)
        pipelines.values.asScala.toSeq.filter(_.tenant == t.id)
          .foreach(p => undeploy(p.id))
        val o = mapper.createObjectNode(); o.put("deleted", true)
        respondJson(x, 200, o)
    }

  private def withPipeline(x: HttpExchange, id: String, t: Tenant)(
      f: Pipeline => Unit): Unit =
    // tenant isolation: another tenant's pipeline answers the same
    // 404 as a nonexistent one — existence must not leak across keys
    Option(pipelines.get(id)).filter(_.tenant == t.id) match {
      case Some(p) => f(p)
      case None => error(x, 404, "pipeline_not_found", s"no pipeline '$id'")
    }

  // ------------------------------------------------------------------
  // deploy / list / info / undeploy
  // ------------------------------------------------------------------

  private def deploy(x: HttpExchange, t: Tenant): Unit = {
    val body = readBody(x)
    val req = Try(mapper.readTree(body)) match {
      case Success(n) if n.hasNonNull("name") && n.hasNonNull("source") => n
      case Success(_) =>
        error(x, 400, "parse_error", "need {name, source}"); return
      case Failure(e) =>
        error(x, 400, "parse_error", s"invalid JSON: ${e.getMessage}"); return
    }
    val name = req.get("name").asText()
    val source = req.get("source").asText()
    val prog =
      try VplParser.parse(source)
      catch {
        case e: VplParseError =>
          error(x, 400, "parse_error", e.getMessage); return
      }
    // tenant quotas at the control plane (tenant.rs deploy_pipeline:
    // QuotaExceeded → 429 quota_exceeded). The default tenant is the
    // reference's standalone mode — unmetered. The pipeline-count
    // check is check-then-act across a slow compile, so each deploy
    // RESERVES a slot first: owned + in-flight reservations must fit
    // the quota, or two concurrent deploys could both slip under it
    if (t.id != "default") {
      if (prog.streams.size > t.quota.maxStreamsPerPipeline) {
        error(x, 429, "quota_exceeded",
          s"stream quota exceeded (max ${t.quota.maxStreamsPerPipeline} " +
            "streams per pipeline)")
        return
      }
      val reserved = t.deploying.incrementAndGet()
      val owned = pipelines.values.asScala.count(_.tenant == t.id)
      if (owned + reserved > t.quota.maxPipelines) {
        t.deploying.decrementAndGet()
        error(x, 429, "quota_exceeded",
          s"pipeline quota exceeded (max ${t.quota.maxPipelines})")
        return
      }
    }
    // idempotent releaser: deployReserved releases AT registration
    // (the moment the pipeline counts as owned — holding the slot any
    // longer double-counts it and spuriously 429s a concurrent
    // under-quota deploy); the finally covers every failure path
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    val release: () => Unit = () =>
      if (t.id != "default" && released.compareAndSet(false, true)) {
        t.deploying.decrementAndGet(); ()
      }
    try deployReserved(x, t, name, source, prog, release)
    finally release()
  }

  /** The deploy body proper — runs with the caller's quota slot
    * reserved; calls `release` as soon as the pipeline is registered
    * (failures leave it to deploy's finally).
    */
  private def deployReserved(x: HttpExchange, t: Tenant, name: String,
      source: String, prog: VProgram, release: () => Unit): Unit = {
    val id = s"p-${nextId.incrementAndGet()}"
    val spool = java.nio.file.Files
      .createTempDirectory(s"graft_api_${id}_").toString
    val staged = EventReplay.stageEmpty(spark, spool)
    // bind ONCE and share between compile and ingest: every bind
    // constructs fresh landing dirs, so a second bind would subscribe
    // into spools no compiled stream reads
    val conns = graft.vpl.ConnectorBinder.bind(prog)
    ensureSpools(prog, conns)
    compileAndStart(id, prog, staged, conns) match {
      case Left(why) =>
        // nothing compiled: the spool created above (and the
        // binding's temp landing dirs) have no owner
        Try(deleteRecursively(new java.io.File(spool)))
        binderTempSpools(conns.values)
          .foreach(d => Try(deleteRecursively(new java.io.File(d))))
        error(x, 400, "parse_error", s"no stream compiled: $why")
      case Right((runs, skipped)) =>
        val p = new Pipeline(id, name, source, prog, staged, runs,
          skipped, System.nanoTime(), t.id)
        try p.ingests = startIngests(prog, conns)
        catch {
          case e: Exception =>
            // a dead broker must not leak the started queries, the
            // never-registered pipeline's spool, or the binding's
            // temp landing dirs
            runs.foreach(r => Try(r.query.stop()))
            Try(deleteRecursively(new java.io.File(spool)))
            binderTempSpools(conns.values)
              .foreach(d => Try(deleteRecursively(new java.io.File(d))))
            error(x, 500, "engine_error",
              s"connector start failed: ${e.getMessage}")
            return
        }
        p.connSpools = binderTempSpools(conns.values)
        pipelines.put(id, p)
        release() // registered: the pipeline now counts as owned
        // close the delete race: if the tenant was deleted while this
        // deploy compiled, its sweep may have run before we
        // registered — tear the orphan down instead of leaving a
        // pipeline no key can ever reach
        if (t.id != "default" && !tenants.containsKey(t.id)) {
          undeploy(id)
          error(x, 401, "invalid_api_key", "Invalid API key")
          return
        }
        startDrainer(p)
        val o = mapper.createObjectNode()
        o.put("id", id); o.put("name", name); o.put("status", "running")
        respondJson(x, 201, o)
    }
  }

  /** Live transport ingestion for `.from(Connector)`-bound streams —
    * the reference server starts a pipeline's connectors on deploy
    * (api.rs; the compose demos publish MQTT/Kafka straight at a
    * deployed pipeline). [[graft.vpl.ConnectorBinder]] constructs the
    * connector; here the matching subscriber/poller is started so
    * messages land in its spool, which the streaming compile already
    * tails ([[graft.vpl.VplCompiler]] boundSource). MQTT, Kafka and
    * NATS have bundled drivers; other transports' landing dirs are
    * fed externally (file/http connectors need no driver at all).
    * Dedup by landing dir so two streams off one connector share one
    * driver.
    */
  private def startIngests(prog: VProgram,
      conns: Map[String, graft.sources.Connector]): Vector[() => Unit] = {
    import graft.sources._
    // accumulate stop thunks AS drivers start: if the Nth connector's
    // broker is dead, the N-1 already-running subscribers/pollers must
    // be stopped before the failure propagates (ADVICE r14 #2 — the
    // deploy catch only stops the queries, not these)
    val started = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    try {
      effectiveSources(prog, conns).foreach {
        case m: MqttConnector =>
          val s = MqttSubscriber.start(m.host, m.port, m.topic, m.spoolDir,
            clientId = m.clientId.getOrElse(s"graft-api-${m.name}"),
            qos = m.qos, username = m.username, password = m.password)
          started += (() => s.stop())
        case k: KafkaConnector =>
          val p = KafkaPoller.start(
            () => new KafkaClient(k.host, k.port), k.topic, k.spoolDir,
            startAt = "earliest")
          started += (() => p.stop())
        case n: NatsConnector =>
          val s = NatsSubscriber.start(n.host, n.port, n.subject, n.spoolDir,
            username = n.username, password = n.password, token = n.token)
          started += (() => s.stop())
        case r: RedisConnector =>
          val s = RedisSubscriber.start(r.host, r.port, r.channel, r.spoolDir,
            timeoutMs = r.timeoutMs)
          started += (() => s.stop())
        case k: KinesisConnector =>
          val p = KinesisPoller.start(
            new KinesisClient(k.endpoint, k.region, k.accessKey, k.secretKey),
            k.stream, k.spoolDir)
          started += (() => p.stop())
        // http (webhook receiver needs its own inbound port config) and
        // rest (the poll URL is not part of the connector decl) land
        // externally; file connectors need no driver at all
        case _ => ()
      }
      started.toVector
    } catch {
      case e: Throwable =>
        started.reverseIterator.foreach(stop => Try(stop()))
        throw e
    }
  }

  /** Per-pipeline drainer: connector-fed pipelines produce output
    * with no inject to collect it, so a daemon sweeps each sink for
    * fresh rows (skipping queries whose batch id hasn't moved) and
    * feeds the /logs ring. Lives until the pipeline leaves the map.
    */
  private def startDrainer(p: Pipeline): Unit = {
    val t = new Thread(() => {
      try {
        while (pipelines.containsKey(p.id)) {
          p.synchronized {
            val moved = p.runs.exists { r =>
              val lp = r.query.lastProgress
              lp != null && lp.batchId != r.drainedBatch
            }
            if (moved) { drainRuns(p); () }
          }
          Thread.sleep(250)
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-api-drain-${p.id}")
    t.setDaemon(true)
    t.start()
  }

  /** Compile every stream of `prog` in streaming mode over the spool
    * and start one memory-sink query per compiled stream (shared by
    * deploy and reload). Left(reason) when nothing compiles — no
    * queries started in that case.
    */
  private def compileAndStart(id: String, prog: VProgram,
      staged: EventReplay.Staged,
      conns: Map[String, graft.sources.Connector])
      : Either[String, (Vector[StreamRun], Map[String, String])] = {
    val decls = prog.events.map(e => e.name -> e).toMap
    // the compiler's own sink map stays empty: in streaming mode the
    // server owns sink writes (per micro-batch in startRun), not the
    // compiler's batch-flavored write-at-compile
    val compiled = new VplCompiler(prog,
      new graft.vpl.StreamingEvtSource(spark, staged, decls),
      streaming = true, sourceConns = conns).compileAll()
    if (!compiled.values.exists(_.isSuccess))
      Left(compiled.collectFirst { case (_, Failure(e)) => e.getMessage }
        .getOrElse("program has no streams"))
    else Right((
      compiled.toSeq.collect { case (sn, Success(df)) =>
        startRun(id, sn, df, sinkConnsFor(prog, sn, conns))
      }.toVector,
      compiled.collect { case (sn, Failure(e)) => sn -> e.getMessage }.toMap))
  }

  /** Effective `.to` connectors of one stream (per-op topic/subject
    * override applied).
    */
  private def sinkConnsFor(prog: VProgram, streamName: String,
      conns: Map[String, graft.sources.Connector])
      : Seq[graft.sources.Connector] = {
    import graft.vpl.VplAst.OpTo
    prog.streams.filter(_.name == streamName).flatMap(_.ops).collect {
      case OpTo(c, ps) if conns.contains(c) =>
        opTargetOf(ps).fold(conns(c))(conns(c).withTarget)
    }.distinct
  }


  private def startRun(id: String, streamName: String, df: DataFrame,
      sinkConns: Seq[graft.sources.Connector]): StreamRun =
    PipelineServer.startRun(
      s"graft_api_${id.replace('-', '_')}_${streamName.toLowerCase}",
      streamName, df, sinkConns)

  private def list(x: HttpExchange, t: Tenant): Unit = {
    val mine = pipelines.values.asScala.toSeq
      .filter(_.tenant == t.id).sortBy(_.id)
    val arr = mapper.createArrayNode()
    mine.foreach(p => arr.add(infoNode(p)))
    val o = mapper.createObjectNode()
    o.set[ObjectNode]("pipelines", arr)
    o.put("total", mine.size)
    respondJson(x, 200, o)
  }

  private def infoNode(p: Pipeline): ObjectNode = {
    val o = mapper.createObjectNode()
    // honest status, not a constant: a stream whose query died (e.g.
    // the spool vanished, an executor-side failure) reports failed
    val status =
      if (p.runs.forall(r => r.query.isActive)) "running"
      else if (p.runs.exists(r => r.query.isActive)) "degraded"
      else "failed"
    o.put("id", p.id); o.put("name", p.name); o.put("status", status)
    p.runs.flatMap(_.query.exception).headOption
      .foreach { e => o.put("error", e.getMessage); () }
    o.put("source", p.source)
    o.put("uptime_secs", (System.nanoTime() - p.deployedNanos) / 1000000000L)
    val streams = mapper.createArrayNode()
    p.runs.foreach(r => streams.add(r.name))
    o.set[ObjectNode]("streams", streams)
    if (p.skipped.nonEmpty) {
      val sk = mapper.createObjectNode()
      p.skipped.foreach { case (k, v) => sk.put(k, v) }
      o.set[ObjectNode]("streams_unsupported_streaming", sk)
    }
    o
  }

  private def info(x: HttpExchange, p: Pipeline): Unit =
    respondJson(x, 200, infoNode(p))

  /** POST /{id}/reload — swap the program (openapi
    * ReloadPipelineRequest): recompile the new source in streaming
    * mode, restart the queries over the SAME spool (the standing
    * event log replays through the new program — the reference keeps
    * the pipeline id and its state semantics are its engine's), and
    * mark the replayed rows as already-emitted so the next inject
    * reports only genuinely fresh output events.
    */
  /** POST /{id}/checkpoint — openapi CheckpointResponse. The
    * reference's EngineCheckpoint is an opaque engine-state blob;
    * graft's engine state IS the spool event log plus deterministic
    * replay, so the blob records the spool extent (injected phases)
    * and the counters. Restore rewinds to exactly that point.
    */
  private def checkpoint(x: HttpExchange, p: Pipeline): Unit = {
    val o = mapper.createObjectNode()
    o.put("pipeline_id", p.id)
    val cp = mapper.createObjectNode()
    p.synchronized {
      cp.put("spool_phases", p.nextPhase - 1)
      cp.put("events_processed", p.eventsProcessed)
      cp.put("output_events_emitted", p.outputEmitted)
    }
    o.set[ObjectNode]("checkpoint", cp)
    o.put("events_processed", cp.get("events_processed").asLong())
    respondJson(x, 200, o)
  }

  /** POST /{id}/restore {checkpoint} — rewind the pipeline to a
    * [[checkpoint]] blob: a FRESH spool gets the seed plus every
    * staged file from phases <= the recorded extent, the program
    * recompiles over it and replays (absorbed silently), counters
    * reset to the blob's values, and later injects continue from the
    * next phase. Events injected after the checkpoint are discarded —
    * the reference's restore-from-blob contract. Live connector feeds
    * are not part of the inject log; they re-attach and consume
    * forward (the reference's Kafka sources likewise resume from
    * their own offsets).
    */
  private def restore(x: HttpExchange, p: Pipeline): Unit = {
    val body = readBody(x)
    val cp = Try(mapper.readTree(body)) match {
      case Success(n) if n.hasNonNull("checkpoint") &&
          n.get("checkpoint").hasNonNull("spool_phases") =>
        n.get("checkpoint")
      case Success(_) =>
        error(x, 400, "parse_error",
          "need {checkpoint: {spool_phases, …}}"); return
      case Failure(e) =>
        error(x, 400, "parse_error", s"invalid JSON: ${e.getMessage}"); return
    }
    val phases = cp.get("spool_phases").asInt()
    if (phases < 0 || phases >= p.nextPhase) {
      error(x, 400, "parse_error",
        s"checkpoint extent $phases outside this pipeline's log " +
          s"[0, ${p.nextPhase - 1}]"); return
    }
    val conns = graft.vpl.ConnectorBinder.bind(p.prog)
    ensureSpools(p.prog, conns)
    val restored = p.synchronized {
      if (!pipelines.containsKey(p.id)) false
      else {
        p.ingests.foreach(stop => Try(stop()))
        p.runs.foreach(r => Try(r.query.stop()))
        // fresh spool: seed + every staged file with phase <= extent
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_api_${p.id}_restore_").toString
        val kept = EventReplay.upToPhase(p.staged, phases).map { case (f, d) =>
          val src = new java.io.File(f)
          val dst = new java.io.File(dir, src.getName)
          java.nio.file.Files.copy(src.toPath, dst.toPath)
          dst.setLastModified(src.lastModified)
          (dst.getPath, d)
        }
        val staged = EventReplay.Staged(dir, kept, phases)
        compileAndStart(p.id, p.prog, staged, conns) match {
          case Right((runs, skipped)) =>
            runs.foreach { r =>
              r.query.processAllAvailable()
              r.drainFresh() // absorb the replay silently
              ()
            }
            val oldSpool = p.staged.dir
            p.staged = staged
            p.runs = runs
            p.skipped = skipped
            p.ingests = startIngests(p.prog, conns)
            p.connSpools
              .foreach(d => Try(deleteRecursively(new java.io.File(d))))
            p.connSpools = binderTempSpools(conns.values)
            p.nextPhase = phases + 1
            p.eventsProcessed =
              if (cp.hasNonNull("events_processed"))
                cp.get("events_processed").asLong() else p.eventsProcessed
            p.outputEmitted =
              if (cp.hasNonNull("output_events_emitted"))
                cp.get("output_events_emitted").asLong() else p.outputEmitted
            Try(deleteRecursively(new java.io.File(oldSpool)))
            true
          case Left(_) => false // compiled at deploy; cannot happen
        }
      }
    }
    if (!restored) {
      // the never-adopted fresh binding has no owner
      binderTempSpools(conns.values)
        .foreach(d => Try(deleteRecursively(new java.io.File(d))))
      error(x, 404, "pipeline_not_found",
        s"pipeline '${p.id}' was deleted during restore"); return
    }
    val o = mapper.createObjectNode()
    o.put("pipeline_id", p.id)
    o.put("restored", true)
    o.put("events_restored", p.eventsProcessed)
    respondJson(x, 200, o)
  }

  private def reload(x: HttpExchange, p: Pipeline): Unit = {
    val body = readBody(x)
    val src = Try(mapper.readTree(body)) match {
      case Success(n) if n.hasNonNull("source") => n.get("source").asText()
      case Success(_) =>
        error(x, 400, "parse_error", "need {source}"); return
      case Failure(e) =>
        error(x, 400, "parse_error", s"invalid JSON: ${e.getMessage}"); return
    }
    val prog =
      try VplParser.parse(src)
      catch {
        case e: VplParseError =>
          error(x, 400, "parse_error", e.getMessage); return
      }
    // dry-run compile first (no queries started): a bad program must
    // reject 400 while the old one keeps running
    val decls = prog.events.map(e => e.name -> e).toMap
    val conns = graft.vpl.ConnectorBinder.bind(prog)
    ensureSpools(prog, conns)
    val probe = new VplCompiler(prog,
      new graft.vpl.StreamingEvtSource(spark, p.staged, decls),
      streaming = true, sourceConns = conns).compileAll()
    if (!probe.values.exists(_.isSuccess)) {
      // the rejected program's fresh binding has no owner
      binderTempSpools(conns.values)
        .foreach(d => Try(deleteRecursively(new java.io.File(d))))
      val why = probe.collectFirst { case (_, Failure(e)) => e.getMessage }
        .getOrElse("program has no streams")
      error(x, 400, "parse_error", s"no stream compiled: $why"); return
    }
    val swapped = p.synchronized {
      // a concurrent DELETE may have won the race since withPipeline:
      // starting queries for a removed pipeline would leak them
      if (!pipelines.containsKey(p.id)) false
      else {
        p.ingests.foreach(stop => Try(stop()))
        p.runs.foreach(r => Try(r.query.stop()))
        compileAndStart(p.id, prog, p.staged, conns) match {
          case Right((runs, skipped)) =>
            // the new queries replayed the whole spool: absorb it
            // silently so the next inject reports only fresh rows
            runs.foreach { r =>
              r.query.processAllAvailable()
              r.drainFresh()
              ()
            }
            p.runs = runs
            p.skipped = skipped
            p.ingests = startIngests(prog, conns)
            p.source = src
            p.prog = prog
            // the replaced binding's temp landing dirs have no
            // consumer left (old queries + ingests stopped above)
            p.connSpools
              .foreach(d => Try(deleteRecursively(new java.io.File(d))))
            p.connSpools = binderTempSpools(conns.values)
            true
          case Left(_) => false // probe passed; cannot happen
        }
      }
    }
    if (!swapped) {
      // the never-adopted fresh binding has no owner
      binderTempSpools(conns.values)
        .foreach(d => Try(deleteRecursively(new java.io.File(d))))
      error(x, 404, "pipeline_not_found",
        s"pipeline '${p.id}' was deleted during reload"); return
    }
    val o = mapper.createObjectNode(); o.put("reloaded", true)
    respondJson(x, 200, o)
  }

  private def undeploy(id: String): Unit =
    Option(pipelines.remove(id)).foreach { p =>
      // serialize with a concurrent inject/reload on the thread pool
      p.synchronized {
        p.ingests.foreach(stop => Try(stop()))
        p.runs.foreach(r => Try(r.query.stop()))
        Try(deleteRecursively(new java.io.File(p.staged.dir)))
        p.connSpools.foreach(d => Try(deleteRecursively(new java.io.File(d))))
        // retire the counters into the owning tenant so /usage keeps
        // reporting lifetime totals (a deleted TENANT drops its
        // history with it — the reference removes the whole record)
        val owner =
          if (p.tenant == "default") Some(defaultTenant)
          else Option(tenants.get(p.tenant))
        owner.foreach { t =>
          t.retiredEventsProcessed.addAndGet(p.eventsProcessed)
          t.retiredOutputEmitted.addAndGet(p.outputEmitted)
          ()
        }
      }
      ()
    }

  // ------------------------------------------------------------------
  // inject
  // ------------------------------------------------------------------

  private def inject(x: HttpExchange, p: Pipeline, batch: Boolean): Unit = {
    val body = readBody(x)
    val root = Try(mapper.readTree(body)) match {
      case Success(n) => n
      case Failure(e) =>
        error(x, 400, "parse_error", s"invalid JSON: ${e.getMessage}"); return
    }
    val events: Seq[JsonNode] =
      if (batch) {
        if (!root.hasNonNull("events") || !root.get("events").isArray) {
          error(x, 400, "parse_error", "need {events: [...]}"); return
        }
        root.get("events").elements().asScala.toSeq
      } else Seq(root)
    val checked = events.map { ev =>
      if (!ev.hasNonNull("event_type") || !ev.hasNonNull("fields") ||
          !ev.get("fields").isObject) Left("need {event_type, fields}")
      else injectedEvent(ev.get("event_type").asText(), ev.get("fields"))
    }
    val rows = checked.collect { case Right(e) => e }
    if (rows.size != events.size) {
      val firstErr = checked.collectFirst { case Left(m) => m }.get
      error(x, 400, "parse_error", firstErr); return
    }
    // per-tenant event-rate quota (tenant.rs TenantUsage.record_event:
    // a per-second window counter against quota.max_events_per_second;
    // RateLimitExceeded → 429 rate_limited). The default tenant is
    // standalone mode — unmetered, like the reference without a
    // tenant manager
    val overRate = p.tenant != "default" &&
      Option(tenants.get(p.tenant)).exists(t => !t.recordEvents(rows.size))
    if (overRate) {
      val max = Option(tenants.get(p.tenant))
        .map(_.quota.maxEventsPerSecond).getOrElse(0L)
      x.getResponseHeaders.add("Retry-After", "1")
      error(x, 429, "rate_limited",
        s"event rate quota exceeded (max $max events/s)")
      return
    }
    val t0 = System.nanoTime()
    val out = p.synchronized {
      val phase = p.nextPhase
      p.nextPhase += 1
      p.staged = EventReplay.stageEvents(spark, p.staged, phase, rows)
      p.eventsProcessed += rows.size
      p.runs.foreach(_.query.processAllAvailable())
      drainRuns(p)
    }
    val o = mapper.createObjectNode()
    if (batch) {
      o.put("accepted", rows.size)
      o.set[ObjectNode]("output_events", out)
      o.put("processing_time_us", (System.nanoTime() - t0) / 1000L)
    } else {
      o.put("accepted", true)
      o.set[ObjectNode]("output_events", out)
    }
    respondJson(x, 200, o)
  }

  /** GET /{id}/logs — Server-Sent Events stream of output events
    * (openapi streamPipelineLogs: each `data:` payload is a JSON
    * LogEvent). Replays the retained ring, then follows live injects;
    * ends when the pipeline is undeployed or the client disconnects.
    */
  private def logsSse(x: HttpExchange, p: Pipeline): Unit = {
    x.getResponseHeaders.add("Content-Type", "text/event-stream")
    x.getResponseHeaders.add("Cache-Control", "no-cache")
    x.sendResponseHeaders(200, 0L) // chunked
    val os = x.getResponseBody
    var pos = 0L
    try {
      var live = true
      var idleTicks = 0
      while (live) {
        val (events, next) = p.logs.from(pos)
        pos = next
        events.foreach { e => os.write(s"data: $e\n\n".getBytes("UTF-8")) }
        if (events.nonEmpty) { os.flush(); idleTicks = 0 }
        else {
          // heartbeat comment every ~1.5 s of idle: writing is the
          // only way to notice a vanished client — without it an
          // idle pipeline pins this thread + socket forever
          idleTicks += 1
          if (idleTicks >= 15) {
            os.write(": keepalive\n\n".getBytes("UTF-8")); os.flush()
            idleTicks = 0
          }
        }
        if (!pipelines.containsKey(p.id)) live = false
        else Thread.sleep(100)
      }
    } catch {
      case _: java.io.IOException => () // client went away
      case _: InterruptedException => ()
    } finally Try(os.close())
  }

  /** Sweep every sink for rows beyond the emitted watermark: returns
    * them (inject's synchronous response) and feeds the /logs ring.
    * Callers hold p's lock.
    */
  private def drainRuns(p: Pipeline): ArrayNode = {
    val fresh = mapper.createArrayNode()
    p.runs.foreach { r =>
      val lp = r.query.lastProgress
      if (lp != null) r.drainedBatch = lp.batchId
      r.drainFresh().foreach { row =>
        val node = rowToJson(mapper, row)
        node.put("stream", r.name)
        fresh.add(node)
        // /logs SSE feed: the openapi LogEvent envelope
        val le = mapper.createObjectNode()
        le.put("event_type", "output")
        le.put("timestamp", java.time.Instant.now().toString)
        le.set[ObjectNode]("data", node.deepCopy[ObjectNode]())
        p.logs.append(mapper.writeValueAsString(le))
      }
    }
    p.outputEmitted += fresh.size()
    fresh
  }

  /** Rows currently buffered across a pipeline's runs — the soak-test
    * probe proving the per-stream buffer stays bounded between sweeps.
    */
  private[graft] def bufferedRows(id: String): Int =
    Option(pipelines.get(id)).map(_.runs.map(_.bufferedCount).sum).getOrElse(0)

  // ------------------------------------------------------------------
  // http plumbing
  // ------------------------------------------------------------------

  private def exact(path: String)(f: HttpExchange => Unit): HttpHandler =
    new HttpHandler {
      override def handle(x: HttpExchange): Unit =
        if (x.getRequestURI.getPath.stripSuffix("/") == path) f(x)
        else error(x, 404, "not_found", "unknown route")
    }

  private def readBody(x: HttpExchange): String =
    new String(x.getRequestBody.readAllBytes(), "UTF-8")

  private def methodNotAllowed(x: HttpExchange): Unit =
    error(x, 405, "method_not_allowed",
      s"${x.getRequestMethod} not allowed here")

  private def error(x: HttpExchange, code: Int, apiCode: String,
      msg: String): Unit = {
    val o = mapper.createObjectNode()
    o.put("error", msg); o.put("code", apiCode)
    respondJson(x, code, o)
  }

  private def respondJson(x: HttpExchange, code: Int, node: JsonNode): Unit = {
    val bytes = mapper.writeValueAsBytes(node)
    x.getResponseHeaders.add("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length.toLong)
    val os = x.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object PipelineServer {

  /** Serve on 127.0.0.1:`port` (0 = ephemeral — tests); `apiKey`
    * enables the reference's x-api-key check on /api/v1 routes;
    * `requestsPerSecond` enables the reference's token-bucket request
    * throttle on those routes (rate_limit.rs; burst = 2× the rate,
    * 429 `rate_limited` + Retry-After when empty); `tlsCertKey`
    * (PEM cert path, PEM key path) switches the listener to HTTPS
    * (main.rs --tls-cert/--tls-key — TLS-only once configured).
    */
  def start(spark: SparkSession, port: Int = 0,
      apiKey: Option[String] = None,
      requestsPerSecond: Option[Int] = None,
      tlsCertKey: Option[(String, String)] = None): PipelineServer =
    new PipelineServer(spark, new InetSocketAddress("127.0.0.1", port),
      apiKey, requestsPerSecond,
      tlsCertKey.map { case (c, k) => Tls.sslContext(c, k) })

  /** The effective (target-overridden) connector of every bound
    * `.from` op in the program.
    */
  private[server] def effectiveSources(prog: VProgram,
      conns: Map[String, graft.sources.Connector])
      : Seq[graft.sources.Connector] = {
    import graft.vpl.VplAst.OpFrom
    prog.streams.flatMap(_.ops).collect {
      case OpFrom(c, ps) if conns.contains(c) =>
        opTargetOf(ps).fold(conns(c))(conns(c).withTarget)
    }.distinct
  }

  /** Pre-create every effective source connector's landing dir: the
    * streaming compile opens a file stream on it, and a per-op
    * `topic:` override re-aims into a subdir that only the
    * subscriber (started AFTER compile) would otherwise create.
    */
  private[server] def ensureSpools(prog: VProgram,
      conns: Map[String, graft.sources.Connector]): Unit = {
    import graft.sources._
    effectiveSources(prog, conns).foreach {
      case m: MqttConnector    => new java.io.File(m.spoolDir).mkdirs(); ()
      case k: KafkaConnector   => new java.io.File(k.spoolDir).mkdirs(); ()
      case n: NatsConnector    => new java.io.File(n.spoolDir).mkdirs(); ()
      case r: RedisConnector   => new java.io.File(r.spoolDir).mkdirs(); ()
      case h: HttpConnector    => new java.io.File(h.spoolDir).mkdirs(); ()
      case k: KinesisConnector => new java.io.File(k.spoolDir).mkdirs(); ()
      case r: RestConnector    => new java.io.File(r.spoolDir).mkdirs(); ()
      case _                   => ()
    }
  }

  /** The BINDER-CREATED temp landing dirs of a connector binding —
    * the `graft_vpl_*` dirs ConnectorBinder.bindOne materializes when
    * a declaration names no `spool_dir`. These are owned by whoever
    * holds the binding (a pipeline, the ws engine) and are deleted
    * when it is replaced or stopped; a USER-provided spool_dir is
    * never touched (filtered by the temp-dir prefix AND parent).
    */
  private[server] def binderTempSpools(
      conns: Iterable[graft.sources.Connector]): Seq[String] = {
    import graft.sources._
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      .getCanonicalFile
    conns.flatMap {
      case m: MqttConnector    => Some(m.spoolDir)
      case k: KafkaConnector   => Some(k.spoolDir)
      case n: NatsConnector    => Some(n.spoolDir)
      case r: RedisConnector   => Some(r.spoolDir)
      case h: HttpConnector    => Some(h.spoolDir)
      case k: KinesisConnector => Some(k.spoolDir)
      case r: RestConnector    => Some(r.spoolDir)
      case _                   => None
    }.toSeq.distinct.filter { d =>
      val f = new java.io.File(d)
      f.getName.startsWith("graft_vpl_") &&
        scala.util.Try(Option(f.getCanonicalFile.getParentFile))
          .toOption.flatten.contains(tmp)
    }
  }

  /** The topic/subject/channel/index override of a `.from`/`.to` op. */
  private[server] def opTargetOf(
      ps: Seq[(String, graft.vpl.VplAst.VExpr)]): Option[String] = {
    import graft.vpl.VplAst.VStr
    Seq("topic", "subject", "channel", "index").flatMap { k =>
      ps.collectFirst { case (kk, VStr(v)) if kk == k => v }
    }.headOption
  }

  /** Per-client token bucket — the reference's rate-limit semantics
    * (varpulis-cluster/src/rate_limit.rs TokenBucket/RateLimiter):
    * each bucket starts full at `burst` tokens, refills continuously
    * at `rps` tokens/s, and one request costs one token; at most
    * `maxTracked` clients are tracked, evicting the least-recently
    * active bucket (an attacker rotating keys can't exhaust driver
    * memory — the reference's max_tracked_ips guard).
    */
  private[graft] final class RateLimiter(rps: Int, burst: Int,
      maxTracked: Int = 10000) {
    private final class Bucket {
      var tokens: Double = burst.toDouble
      var last: Long = System.nanoTime()
    }
    // access-ordered LinkedHashMap = LRU: eldest entry IS the
    // least-recently-checked bucket
    private val buckets =
      new java.util.LinkedHashMap[String, Bucket](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Bucket]): Boolean =
          size() > maxTracked
      }
    /** Right(remaining) when allowed; Left(retryAfterSecs) when not. */
    def check(key: String): Either[Long, Long] = synchronized {
      val now = System.nanoTime()
      val b = Option(buckets.get(key)).getOrElse {
        val nb = new Bucket; buckets.put(key, nb); nb
      }
      b.tokens = math.min(burst.toDouble,
        b.tokens + (now - b.last) / 1e9 * rps)
      b.last = now
      if (b.tokens >= 1.0) { b.tokens -= 1.0; Right(b.tokens.toLong) }
      else Left(math.max(1L, math.ceil((1.0 - b.tokens) / rps).toLong))
    }
  }

  /** Start one streaming query for a compiled stream: every
    * micro-batch lands in the run's driver-side buffer (the inject
    * response / drainer / /logs / ws-broadcast feed) AND goes out
    * through the stream's bound `.to` connectors — the foreachBatch
    * form of the batch compiler's sink write, so `.to(KafkaAlerts,
    * topic: …)` produces live from a deployed pipeline exactly like
    * the reference server's compose stack. Shared by the REST
    * pipeline server and the ws transport so buffer semantics (the
    * r14 #1 trim fix) exist exactly once.
    */
  private[server] def startRun(label: String, streamName: String,
      df: DataFrame,
      sinkConns: Seq[graft.sources.Connector]): StreamRun = {
    val buf = new java.util.ArrayList[Row]()
    val q = df.writeStream.queryName(label).outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        if (sinkConns.isEmpty) {
          // no second consumer — skip the persist bookkeeping (the
          // whole ws path and sink-less pipelines land here)
          val rows = b.collect()
          buf.synchronized { rows.foreach { r => buf.add(r); () } }
        } else {
          // persist only when the batch is read twice: once collected
          // for the buffer, once written to each bound connector
          val cached = b.persist()
          try {
            val rows = cached.collect()
            buf.synchronized { rows.foreach { r => buf.add(r); () } }
            sinkConns.foreach(_.write(cached))
          } finally { cached.unpersist(); () }
        }
      }.start()
    q.processAllAvailable() // consume the zero-row seed batch
    new StreamRun(streamName, label, q, buf)
  }

  private[server] final class StreamRun(val name: String, val label: String,
      val query: StreamingQuery, val buffer: java.util.ArrayList[Row]) {
    var drainedBatch: Long = -1L // last batch id the drainer swept
    /** Take every buffered row and TRIM the buffer: drained rows are
      * never re-read (the inject response and /logs ring consume them
      * right away), so retention here would only grow driver memory —
      * a live-connector pipeline runs until killed, and an unbounded
      * ArrayList plus a full copy per 250 ms sweep is O(total-rows)
      * heap and quadratic cumulative copy cost (VERDICT r14 #1). The
      * buffer is therefore bounded by one sweep's production.
      */
    def drainFresh(): Array[Row] = buffer.synchronized {
      val out = buffer.toArray(new Array[Row](buffer.size()))
      buffer.clear()
      out
    }
    /** Rows currently awaiting a sweep (bounded) — soak-test probe. */
    def bufferedCount: Int = buffer.synchronized(buffer.size())
  }

  /** Constant-time credential comparison that leaks neither content
    * nor the expected key's length (auth.rs constant_time_compare →
    * varpulis-core security): both sides are hashed to fixed-width
    * digests first, then compared with the JDK's constant-time
    * MessageDigest.isEqual.
    */
  private[server] def ctEq(a: String, b: String): Boolean = {
    def d(s: String) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
    java.security.MessageDigest.isEqual(d(a), d(b))
  }

  /** Per-tenant quota — tenant.rs TenantQuota and its tier
    * constructors (free/pro/enterprise/default), openapi QuotaInfo.
    */
  private[server] final case class Quota(maxPipelines: Int,
      maxEventsPerSecond: Long, maxStreamsPerPipeline: Int)

  private[server] object Quota {
    val default: Quota = Quota(10, 10000L, 50)
    val free: Quota = Quota(2, 100L, 5)
    val pro: Quota = Quota(20, 50000L, 100)
    val enterprise: Quota = Quota(1000, 500000L, 500)

    /** api.rs quota_from_tier: unknown/absent tiers get the default. */
    def ofTier(tier: Option[String]): Quota = tier match {
      case Some("free")       => free
      case Some("pro")        => pro
      case Some("enterprise") => enterprise
      case _                  => default
    }
  }

  /** A SaaS tenant: identity, api key, quota, and the usage state the
    * quota checks meter (tenant.rs Tenant + TenantUsage).
    */
  private[server] final class Tenant(val id: String, val name: String,
      val apiKey: String, val quota: Quota, val seq: Long) {
    /** Lifetime counters of this tenant's UNDEPLOYED pipelines —
      * usage sums these plus the live pipelines'.
      */
    val retiredEventsProcessed = new AtomicLong(0L)
    val retiredOutputEmitted = new AtomicLong(0L)

    /** In-flight deploy reservations: the pipeline-count quota admits
      * a deploy only when owned + reserved fits, closing the
      * check-then-act window across the compile.
      */
    val deploying = new java.util.concurrent.atomic.AtomicInteger(0)

    // events-per-second quota: the reference's per-second window
    // counter (tenant.rs TenantUsage::record_event), not a token
    // bucket — mirror its exact semantics
    private var windowSec = 0L
    private var windowCount = 0L

    /** Record `n` injected events; false when this second's window
      * would exceed the quota (the events are NOT counted then —
      * a rejected inject processes nothing).
      */
    def recordEvents(n: Int): Boolean = synchronized {
      val nowSec = System.nanoTime() / 1000000000L
      if (nowSec != windowSec) { windowSec = nowSec; windowCount = 0L }
      if (windowCount + n > quota.maxEventsPerSecond) false
      else { windowCount += n; true }
    }
  }

  // mutated under p.synchronized (inject/reload/undeploy) but read
  // lock-free by /ready, list and info on other pool threads —
  // volatile gives those reads a happens-before edge
  private final class Pipeline(
      val id: String,
      val name: String,
      @volatile var source: String,
      @volatile var prog: VProgram,
      @volatile var staged: EventReplay.Staged,
      @volatile var runs: Vector[StreamRun],
      @volatile var skipped: Map[String, String],
      val deployedNanos: Long,
      val tenant: String = "default") {
    var nextPhase: Int = 1
    @volatile var eventsProcessed: Long = 0L
    @volatile var outputEmitted: Long = 0L
    @volatile var ingests: Vector[() => Unit] = Vector.empty
    // the binding's binder-created landing dirs, deleted on
    // undeploy/reload/restore replacement (r15 review: repeated
    // rebinds otherwise accumulate graft_vpl_* temp dirs)
    @volatile var connSpools: Seq[String] = Vector.empty
    val logs = new LogRing(10000)
  }

  /** Bounded append-only log with absolute positions: SSE readers
    * resume from their own offset; entries older than the retention
    * cap are dropped (a reader that fell that far behind skips ahead).
    */
  private final class LogRing(cap: Int) {
    private val buf = new java.util.ArrayDeque[String]()
    private var start = 0L // absolute index of buf's head
    def append(e: String): Unit = synchronized {
      buf.addLast(e)
      if (buf.size > cap) { buf.removeFirst(); start += 1 }
    }
    /** Entries at absolute positions >= pos; returns (entries, next). */
    def from(pos: Long): (Seq[String], Long) = synchronized {
      val end = start + buf.size
      if (pos >= end) (Nil, end)
      else {
        val skip = math.max(pos - start, 0L).toInt
        val out = new scala.collection.mutable.ArrayBuffer[String](
          buf.size - skip)
        val it = buf.iterator()
        var i = 0
        while (it.hasNext) {
          val e = it.next()
          if (i >= skip) out += e
          i += 1
        }
        (out.toSeq, end)
      }
    }
  }

  /** One injected event's type and JSON field object → the type and
    * `(key, literal)` pairs for [[EventReplay.stageEvents]]: quoted
    * strings, bare integers/floats/booleans, which undeclared-event type
    * inference reads. Types and keys must be identifiers; quotes/newlines
    * in strings reject loudly.
    */
  private[graft] def injectedEvent(t: String,
      fields: JsonNode): Either[String, (String, Seq[(String, String)])] = {
    if (!t.matches("[A-Za-z_][A-Za-z0-9_]*"))
      return Left(s"invalid event_type '$t'")
    val literals = fields.properties().asScala.toSeq.map { e =>
      val (k, v) = (e.getKey, e.getValue)
      if (!k.matches("[A-Za-z_][A-Za-z0-9_]*"))
        return Left(s"invalid field name '$k'")
      val lit =
        if (v.isTextual) {
          val s = v.asText()
          if (s.contains("\"") || s.contains("\n") || s.contains("\r"))
            return Left(s"field '$k': quotes/newlines are not accepted " +
              "in string values")
          "\"" + s + "\""
        } else if (v.isIntegralNumber) v.asLong().toString
        else if (v.isFloatingPointNumber) v.asDouble().toString
        else if (v.isBoolean) v.asBoolean().toString
        else return Left(s"field '$k': unsupported JSON type ${v.getNodeType}")
      k -> lit
    }
    Right(t -> literals)
  }

  /** Schema-driven Row → JSON object (output events). */
  private[server] def rowToJson(mapper: ObjectMapper, row: Row): ObjectNode = {
    val o = mapper.createObjectNode()
    row.schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (row.isNullAt(i)) o.putNull(f.name)
      else row.get(i) match {
        case l: Long => o.put(f.name, l)
        case n: Int => o.put(f.name, n)
        case d: Double => o.put(f.name, d)
        case fl: Float => o.put(f.name, fl.toDouble)
        case b: Boolean => o.put(f.name, b)
        case d: java.math.BigDecimal => o.put(f.name, d)
        case d: scala.math.BigDecimal => o.put(f.name, d.bigDecimal)
        case s: Seq[_] =>
          val arr = o.putArray(f.name)
          s.foreach {
            case l: Long => arr.add(l)
            case d: Double => arr.add(d)
            case other => arr.add(String.valueOf(other))
          }
        case other => o.put(f.name, String.valueOf(other))
      }
    }
    o
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
