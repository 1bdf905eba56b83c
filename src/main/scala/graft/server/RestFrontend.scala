package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.graft.ResultEncoders

import graft.core.{Engine, EngineSession, Events, ExecuteStatement, FetchOrientation, Json,
  Metrics, Operation, OperationState, ResultMode, ResultOperation}
import graft.core.Json.{quote => q}

/** Minimal HTTP/JSON frontend over the engine — the gateway's network
  * entry point (the reference exposes REST alongside Thrift:
  * kyuubi-server/.../api/v1/BatchesResource.scala; this covers the
  * session/statement/batch lifecycle on the JDK's HttpServer, zero
  * dependencies):
  *
  *   POST   /api/v1/sessions                      {"user": u}   → {"sessionId": id}
  *   DELETE /api/v1/sessions/{sid}
  *   POST   /api/v1/sessions/{sid}/statements     {"sql": s}    → {"operationId": id}
  *   GET    /api/v1/sessions/{sid}/statements/{op}               → {"state": ...}
  *   GET    /api/v1/sessions/{sid}/statements/{op}/result?maxRows=n → {"rows": [...]}
  *   POST   /api/v1/batches                       {"sql": s}    → {"id": ..., "state": ...}
  *   GET    /api/v1/batches/{id}                                 → {"state": ...}
  *
  * Statements run async (the engine's operation pool); clients poll
  * state then page results — the same interaction contract as the
  * reference's REST v1.
  *
  * With `batchStoreDir` set, batch metadata persists in an embedded-
  * Derby [[BatchMetadataStore]]: terminal batch states survive a
  * frontend restart, and unfinished batches found at startup are
  * resubmitted under their original ids (the reference's
  * JDBCMetadataStore + BatchJobSubmission recovery).
  */
class RestFrontend(engine: Engine, port: Int = 0, batchStoreDir: Option[String] = None,
    // Per-user cap on LIVE (non-terminal) batches (reference
    // kyuubi.server.limit.batch.connections.per.user); 0 = unlimited.
    maxBatchesPerUser: Int = 0,
    // Admin hot-refresh surface (reference AdminResource.scala:55-75:
    // POST /admin/refresh/{hadoop_conf, user_defaults_conf, …} gated on
    // kyuubi.server.administrators). Identities come from HTTP Basic
    // auth, VALIDATED against `restAuth` — enabling admin verbs
    // requires a configured provider (the reference's AdminResource
    // sits behind an authenticated frontend; an asserted-only identity
    // would make the adminUsers check decorative).
    adminUsers: Set[String] = Set.empty,
    restAuth: Option[AuthenticationProvider] = None,
    // Refresh targets: the authz policy file (forced re-sync), the
    // session-conf profile advisors (cache invalidation), and the
    // Thrift limiter's deny user/IP lists re-read from files.
    authzPolicyFile: Option[java.nio.file.Path] = None,
    confAdvisors: Seq[graft.core.SessionConfAdvisor] = Nil,
    thriftLimiter: Option[SessionLimiter] = None,
    denyUsersFile: Option[java.nio.file.Path] = None,
    denyIpsFile: Option[java.nio.file.Path] = None,
    // Metadata cleaner (reference MetadataManager.scala:67-70, :243-253
    // + METADATA_CLEANER_ENABLED/METADATA_MAX_AGE): terminal batch
    // records older than maxAge are purged on a schedule so the store
    // doesn't grow forever. 0 = cleaner disabled.
    metadataMaxAgeMs: Long = 0,
    metadataCleanerIntervalMs: Long = 60000,
    // Batch resource upload (reference BatchesResource.scala:194-224:
    // multipart POST /api/v1/batches with a resourceFile runs the
    // uploaded artifact through a SparkBatchProcessBuilder child JVM;
    // BATCH_RESOURCE_UPLOAD_ENABLED toggles it,
    // BATCH_RESOURCE_FILE_MAX_SIZE caps it — 0 = uncapped).
    resourceUploadEnabled: Boolean = true,
    resourceFileMaxSize: Long = 0,
    // Per-file cap on extra (sidecar) resource uploads — the
    // reference's BATCH_EXTRA_RESOURCE_FILE_MAX_SIZE
    // (BatchesResource.scala:69). 0 = uncapped.
    extraResourceFileMaxSize: Long = 0,
    batchStagingDir: Option[String] = None,
    batchJobBuilder: BatchJobBuilder = new BatchJobBuilder(),
    // Batch v2 submitter (reference BATCH_SUBMITTER_ENABLED /
    // BATCH_IMPL_VERSION=2 + KyuubiBatchService): uploaded-resource
    // submits are accepted as PENDING store records and drained by a
    // bounded worker pool, so a burst of N submits spawns at most
    // `batchSubmitterPoolSize` child JVMs with the rest queued —
    // instead of forking N spark-submits at once.
    batchSubmitterEnabled: Boolean = false,
    batchSubmitterPoolSize: Int = 2,
    batchSubmitterQueueSize: Int = 256,
    // Bound the GET /batches store scan by create time (reference
    // METADATA_SEARCH_WINDOW, BatchesResource.scala:70): a years-old
    // store must not make every listing a full-table read. 0 = off.
    metadataSearchWindowMs: Long = 0,
    // How OTHER gateways reach this one (reference `kyuubi_instance`):
    // recorded as the owner of every batch this gateway starts, so a
    // non-owning HA gateway sharing the store can forward GET/DELETE
    // to the gateway that holds the live child process.
    advertisedHost: String = "localhost") {

  require(adminUsers.isEmpty || restAuth.isDefined,
    "adminUsers requires a configured restAuth provider: admin verbs " +
      "must authenticate the asserted identity, not trust it")

  // The HTTP worker pool belongs to this frontend: named threads, shut
  // down by stop(). Statements run on the engine's operation pool.
  private val httpPool = Executors.newFixedThreadPool(8, (r: Runnable) =>
    new Thread(r, s"graft-rest-http-${RestFrontend.poolThreads.incrementAndGet()}"))

  // keyed by batch id (== the submitting operation's handle, except for
  // recovered batches, which keep their original id over a new op)
  private val batches = new ConcurrentHashMap[String, SqlBatch]()

  /** A SQL batch's statement. Once the statement ends, the batch closes
    * its engine session, which turns the statement CLOSED; from then on
    * `state` answers with the state the batch ended in.
    */
  private final class SqlBatch(val op: ExecuteStatement) {
    @volatile private var ended: Option[OperationState] = None
    // the statement's state first: `end` records `ended` before the
    // close turns the statement CLOSED
    def state: OperationState = { val s = op.currentState; ended.getOrElse(s) }
    def hasEnded: Boolean = ended.isDefined

    /** End the batch in terminal state `s` (the first end wins) and
      * close its session. CLOSED is no end: a statement closed from
      * outside leaves the batch to the session-close listener.
      */
    def end(s: OperationState): Unit = if (s != OperationState.Closed) {
      synchronized { if (ended.isEmpty) ended = Some(s) }
      engine.closeSession(op.session.id)
    }
  }
  // the last documents of Trino queries that ended other than FINISHED,
  // served again after their engine session is closed (Trino keeps its
  // query.max-history of 100 ended queries the same way)
  private val trinoEnded = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, String]() {
      override def removeEldestEntry(e: java.util.Map.Entry[String, String]): Boolean =
        size() > 100
    })
  // op handle → batch id, for routing operation events to the store
  private val opToBatch = new ConcurrentHashMap[String, String]()

  private val store: Option[BatchMetadataStore] = batchStoreDir.map(new BatchMetadataStore(_))

  // Uploaded-resource batches (child JVMs), beside the SQL batches in
  // `batches` — same id space, same store, same per-user slots.
  private val procBatches = new ConcurrentHashMap[String, BatchJob]()
  private val stagingDir: java.nio.file.Path = java.nio.file.Paths.get(
    batchStagingDir.orElse(batchStoreDir.map(_ + "/uploads"))
      .getOrElse(System.getProperty("java.io.tmpdir") + "/graft-batch-uploads"))

  /** Where the launch wrapper records batch `id`'s real exit code —
    * derivable from the id alone, so a restarted incarnation can read
    * the truth for a process it never owned.
    */
  private def batchExitFile(id: String): java.nio.file.Path =
    stagingDir.resolve(s"$id.exit")

  // ---- batch v2 submitter queue (reference KyuubiBatchService) ----
  private final case class PendingSubmit(id: String, user: String,
      resource: java.nio.file.Path, mainClass: Option[String],
      args: Seq[String], extras: Seq[java.nio.file.Path], batchType: String,
      requestConf: Map[String, String] = Map.empty,
      canceled: java.util.concurrent.atomic.AtomicBoolean =
        new java.util.concurrent.atomic.AtomicBoolean(false))
  private val pendingBatches = new ConcurrentHashMap[String, PendingSubmit]()
  private val submitQueue =
    new java.util.concurrent.LinkedBlockingQueue[PendingSubmit](
      math.max(1, batchSubmitterQueueSize))

  // Worker pool draining PENDING submits: each worker launches ONE
  // child and HOLDS its slot until the child settles, so live children
  // never exceed the pool size. The pendingBatches entry is the SINGLE
  // claim token: the worker launches only if its remove(id) returned
  // the entry, and a DELETE that removes it first wins the cancel —
  // exactly one of the two ever acts, so a canceled batch can never be
  // launched after its client was told CANCELED, and the slot is
  // released exactly once.
  private val submitterThreads: Seq[Thread] =
    if (!batchSubmitterEnabled) Nil
    else (1 to math.max(1, batchSubmitterPoolSize)).map { i =>
      val t = new Thread(() => {
        try while (true) {
          val p = submitQueue.take()
          // atomic claim: null means a DELETE already took this one
          if (pendingBatches.remove(p.id) != null) {
            try {
              val job = startResourceBatch(p.id, p.user, p.resource,
                p.mainClass, p.args, insertRecord = false,
                extraResources = p.extras, requestConf = p.requestConf)
              // hold this worker (= this pool slot) until the child is
              // gone; the bound is the WORKER count, not a counter
              while (!job.awaitTerminal(60000)) ()
            } catch {
              // a server stop() interrupt is NOT a launch failure —
              // let it unwind the worker without marking the batch
              case ie: InterruptedException => throw ie
              case e: Throwable =>
                store.foreach(_.updateState(p.id, "ERROR",
                  Some(String.valueOf(e.getMessage))))
                releaseBatchSlot(p.id)
            }
          }
        } catch { case _: InterruptedException => () }
      }, s"graft-batch-submitter-$i")
      t.setDaemon(true)
      t.start()
      t
    }

  // Mirror every tracked batch operation's state transitions into the
  // metadata store, so the persisted state is current when we die.
  // Terminal states also retire the op→batch route: without this the
  // map grows for the life of the server (the batch itself stays
  // servable from `batches` / the store), and end the batch, which
  // closes its engine session.
  // Per-user live-batch accounting (reference SessionLimiter pattern:
  // atomic increment-then-check, never scan-then-act — two concurrent
  // POSTs at limit−1 must not both pass). batchSlotUsers maps a COUNTED
  // batch id to its user so release is idempotent: whoever removes the
  // entry (terminal event, session-close purge, failed submit) performs
  // the single decrement.
  private val liveBatchCounts = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  private val batchSlotUsers = new ConcurrentHashMap[String, String]()

  /** Claim a slot for `user`: increment first, then compare — the only
    * order that is atomic under concurrent submits. Returns false (and
    * undoes the increment) when the cap is exceeded. `enforce = false`
    * counts without rejecting (store-recovery resubmits must run, but
    * they still occupy slots).
    */
  private def claimBatchSlot(user: String, enforce: Boolean = true): Boolean = {
    val ctr = liveBatchCounts.computeIfAbsent(user,
      _ => new java.util.concurrent.atomic.AtomicInteger)
    val n = ctr.incrementAndGet()
    if (enforce && maxBatchesPerUser > 0 && n > maxBatchesPerUser) {
      ctr.decrementAndGet(); false
    } else true
  }

  /** Release the slot held by `batchId`, exactly once. */
  private def releaseBatchSlot(batchId: String): Unit = {
    val user = batchSlotUsers.remove(batchId)
    if (user != null) Option(liveBatchCounts.get(user)).foreach(_.decrementAndGet())
  }

  private val batchStateListener: Events.Handler = new Events.Handler {
    override def onEvent(e: Events.Event): Unit = e match {
      case Events.OperationEvent(opId, _, state, error, _) =>
        val batchId = opToBatch.get(opId)
        if (batchId != null) {
          store.foreach(_.updateState(batchId, state, error))
          OperationState.all.find(s => s.name == state && s.terminal).foreach { s =>
            opToBatch.remove(opId)
            releaseBatchSlot(batchId) // terminal batches free their slot
            Option(batches.get(batchId)).foreach(_.end(s))
          }
        }
      case _ => ()
    }
  }
  Events.register(batchStateListener)

  // Session/operation counters fed by the lifecycle event bus,
  // exported at GET /api/v1/metrics (the reference's kyuubi-metrics
  // reporter surface).
  private val metrics = new Metrics.Collector
  Events.register(metrics)

  // Bounded event history feeding GET /api/v1/events and the UI's
  // event feed (sessions/operations/lineage/authz-audit, newest
  // first). Capacity is a server conf (graft.server.events.ring
  // .capacity, default 512); evictions surface in /api/v1/metrics as
  // events_ring_dropped so operators can see feed truncation.
  private val eventLog = new Events.RingBuffer(
    engine.rootSpark.conf.getOption("graft.server.events.ring.capacity")
      .map(_.toInt).getOrElse(512))
  Events.register(eventLog)
  metrics.registerGauge("events_ring_dropped", () => eventLog.droppedCount)
  metrics.registerGauge("events_ring_capacity", () => eventLog.capacity.toLong)

  // Engine-side session closes (idle reaper included) purge this
  // frontend's per-session state, so abandoned batches don't pin
  // their sessions and result arrays forever. An ended batch closed
  // its own session and stays servable.
  private val sessionCloseListener: Events.Handler = new Events.Handler {
    override def onEvent(e: Events.Event): Unit = e match {
      case Events.SessionEvent(sid, _, "CLOSED", _) =>
        batches.forEach { (id, b) =>
          val op = b.op
          if (op.session.id == sid && !b.hasEnded) {
            if (!op.currentState.terminal)
              store.foreach(_.updateState(id, "CANCELED", None))
            try op.close() catch { case _: Throwable => }
            batches.remove(id)
            opToBatch.remove(op.handle)
          }
        }
      case _ => ()
    }
  }
  Events.register(sessionCloseListener)

  private val server: HttpServer = HttpServers.create(new InetSocketAddress(port))

  /** This gateway's address as recorded in batch ownership (the socket
    * binds at construction, so the real port is known even for
    * port = 0).
    */
  private def selfUrl: String = s"http://$advertisedHost:${server.getAddress.getPort}"

  private def terminalStateName(s: String): Boolean =
    OperationState.all.exists(st => st.name == s && st.terminal)

  /** Client-supplied integer param: Right(value-or-default), Left(raw)
    * when malformed — the caller answers 400 naming the bad parameter,
    * never a NumberFormatException-turned-500 (the GET /events limit
    * contract, r10 ADVICE, applied to every client-parsed number).
    */
  private def numParam[A](ex: HttpExchange, name: String,
      default: A)(parse: String => A): Either[String, A] =
    queryParam(ex, name) match {
      case None => Right(default)
      case Some(raw) => scala.util.Try(parse(raw.trim)).toOption.toRight(raw)
    }

  private def badParam(ex: HttpExchange, name: String, raw: String): Unit =
    reply(ex, 400, s"""{"error": ${q(s"bad $name")}, ${q(name)}: ${q(raw)}}""")

  /** Cancel a batch whose launch is IN FLIGHT (a submitter worker holds
    * the pendingBatches claim but hasn't registered the live job yet):
    * wait for the job to appear in procBatches and cancel it, else 409
    * so the client retries — never a 200 over a batch that still
    * launches afterwards.
    */
  private def cancelInFlightLaunch(ex: HttpExchange, id: String): Unit = {
    var job: BatchJob = null
    var waited = 0
    while (job == null && waited < 5000) {
      job = procBatches.get(id)
      if (job == null) { Thread.sleep(50); waited += 50 }
    }
    if (job != null) {
      try job.cancel() catch { case _: Throwable => }
      reply(ex, 200, s"""{"id": ${q(id)}, "state": ${q(job.currentState)}}""")
    } else {
      val st = store.flatMap(_.get(id)).map(_.state).getOrElse("UNKNOWN")
      reply(ex, 409,
        s"""{"id": ${q(id)}, "state": ${q(st)}, "message": "batch is being launched; retry"}""")
    }
  }

  // Internal gateway-to-gateway client (the reference's
  // InternalRestClient, BatchesResource.scala:78-90): short timeouts —
  // a dead owner must fail fast into the store-only fallback.
  private lazy val internalClient: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(2)).build()

  /** True when another gateway answers its /ping. */
  private def gatewayAlive(url: String): Boolean =
    try {
      val r = internalClient.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$url/api/v1/ping"))
          .timeout(java.time.Duration.ofSeconds(2)).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      r.statusCode() == 200
    } catch { case _: Throwable => false }

  /** Forward a GET/DELETE to the owning gateway; None when it cannot
    * be reached (the caller falls back to the store / local kill).
    */
  private def forwardToOwner(owner: String, method: String,
      pathAndQuery: String): Option[(Int, String)] =
    try {
      val b = java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(s"$owner/api/v1/$pathAndQuery"))
        .timeout(java.time.Duration.ofSeconds(15))
      val req = (if (method == "DELETE") b.DELETE() else b.GET()).build()
      val r = internalClient.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      Some((r.statusCode(), r.body()))
    } catch { case _: Throwable => None }
  server.setExecutor(httpPool)
  server.createContext("/api/v1/", handle _)
  server.createContext("/v1/statement", handleTrino _)
  server.createContext("/ui", handleUi _)

  /** Admin UI over the /api/v1 admin endpoints — the dependency-free
    * stand-in for the reference's Vue web UI (kyuubi-server/web-ui
    * renders the same resources). `/ui` is the live overview;
    * `/ui/session/{id}`, `/ui/operation/{id}` and `/ui/batch/{id}` are
    * server-rendered drill-down pages (the reference web-ui's
    * session/operation detail pages), the batch page including its
    * pending operation log.
    */
  private def handleUi(ex: HttpExchange): Unit = {
    def esc(s: String): String = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    def html(status: Int, doc: String): Unit = reply(ex, status, doc, "text/html; charset=utf-8")
    def page(status: Int, title: String, bodyHtml: String): Unit =
      html(status, s"""<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">
        |<title>${esc(title)}</title><style>
        |body { font-family: system-ui, sans-serif; margin: 1.5rem; color: #1a1a1a; }
        |h1 { font-size: 1.2rem; } table { border-collapse: collapse; min-width: 30rem; }
        |th, td { border: 1px solid #ccc; padding: .3rem .6rem; font-size: .85rem; text-align: left; }
        |th { background: #f2f2f2; } pre { background: #f7f7f7; padding: .6rem; font-size: .8rem; }
        |</style></head><body><p><a href="/ui">&larr; overview</a></p>
        |<h1>${esc(title)}</h1>$bodyHtml</body></html>""".stripMargin)
    def stmtOf(op: Operation): String = op match {
      case e: ExecuteStatement => e.statement
      case other => other.getClass.getSimpleName
    }
    def opRowsHtml(ops: Seq[Operation]): String =
      "<table><tr><th>operation</th><th>state</th><th>statement</th></tr>" +
        ops.map(o =>
          s"""<tr><td><a href="/ui/operation/${esc(o.handle)}">${esc(o.handle)}</a></td>
             |<td>${esc(o.currentState.toString)}</td>
             |<td>${esc(stmtOf(o).take(200))}</td></tr>""".stripMargin).mkString +
        "</table>"
    try {
      val segs = ex.getRequestURI.getPath.stripPrefix("/ui").split("/")
        .toList.filter(_.nonEmpty)
      segs match {
        case Nil => html(200, RestFrontend.UiPage)
        case "sql" :: Nil => html(200, RestFrontend.SqlLabPage)
        // All live sessions across every share scope (reference
        // web-ui Session Management page)
        case "sessions" :: Nil =>
          val rows = engine.openSessions.sortBy(_.createdMs).map { s =>
            s"""<tr><td><a href="/ui/session/${esc(s.id)}">${esc(s.id)}</a></td>
               |<td>${esc(s.user)}</td><td>${s.createdMs}</td>
               |<td>${s.openOperations.size}</td></tr>""".stripMargin
          }.mkString
          page(200, "sessions",
            "<table><tr><th>session</th><th>user</th><th>created</th>" +
              "<th>open operations</th></tr>" + rows + "</table>")
        // All operations across every live session (reference web-ui
        // Operation Management page)
        case "operations" :: Nil =>
          val now = System.currentTimeMillis()
          val rows = engine.openSessions.flatMap(s => s.openOperations.map((s, _)))
            .sortBy(_._2.createdMs).map { case (s, o) =>
              s"""<tr><td><a href="/ui/operation/${esc(o.handle)}">${esc(o.handle)}</a></td>
                 |<td><a href="/ui/session/${esc(s.id)}">${esc(s.id.take(8))}&hellip;</a></td>
                 |<td>${esc(s.user)}</td><td>${esc(o.currentState.toString)}</td>
                 |<td>${now - o.createdMs} ms</td>
                 |<td>${esc(stmtOf(o).take(120))}</td></tr>""".stripMargin
            }.mkString
          page(200, "operations",
            "<table><tr><th>operation</th><th>session</th><th>user</th>" +
              "<th>state</th><th>age</th><th>statement</th></tr>" + rows + "</table>")
        // Server info: identity, uptime, share level, live counts and
        // the metrics snapshot (reference web-ui Server page)
        case "server" :: Nil =>
          val snap = metrics.snapshot.toSeq.sortBy(_._1)
            .map { case (k, v) => s"<tr><td>${esc(k)}</td><td>$v</td></tr>" }.mkString
          page(200, "server",
            s"""<p>engine id: ${esc(engine.engineId)} &middot;
               |version: ${esc(graft.core.Kdf.version)} &middot;
               |share level: ${esc(engine.shareLevel.toString)} &middot;
               |open sessions: ${engine.openSessionCount}</p>
               |<h2>metrics</h2><table><tr><th>metric</th><th>value</th></tr>$snap</table>"""
              .stripMargin)
        case "engines" :: Nil =>
          // space names contain '/' (user/alice, group/data-eng) —
          // they pass through as extra path segments, rejoined below
          val rows = engine.engineSpaces.map { space =>
            val nodes = engine.discovery.getAll(space)
            s"""<tr><td><a href="/ui/engines/${esc(space)}">${esc(space)}</a></td>
               |<td>${nodes.size}</td></tr>""".stripMargin
          }.mkString
          page(200, "engines",
            "<table><tr><th>space</th><th>registrations</th></tr>" + rows + "</table>")
        case "engines" :: rest =>
          val space = rest.mkString("/")
          val nodes = engine.discovery.getAll(space)
          if (nodes.isEmpty) page(404, "no such engine space", "")
          else {
            val sessRows = engine.openSessions.sortBy(_.createdMs)
              .map(s => s"""<tr><td><a href="/ui/session/${esc(s.id)}">${esc(s.id)}</a></td>
                 |<td>${esc(s.user)}</td></tr>""".stripMargin).mkString
            page(200, s"engine space $space",
              "<h2>registrations</h2><table><tr><th>address</th></tr>" +
                nodes.map(n => s"<tr><td>${esc(n)}</td></tr>").mkString + "</table>" +
                "<h2>open sessions</h2><table><tr><th>session</th><th>user</th></tr>" +
                sessRows + "</table>")
          }
        case "session" :: sid :: Nil =>
          engine.session(sid) match {
            case Some(s) =>
              page(200, s"session $sid",
                s"<p>user: ${esc(s.user)} &middot; created: ${s.createdMs}</p>" +
                  opRowsHtml(s.openOperations.sortBy(_.createdMs)))
            case None => page(404, "no such session", "")
          }
        case "operation" :: opId :: Nil =>
          engine.operation(opId) match {
            case Some(op) =>
              // state-transition timeline recovered from the bounded
              // event ring (newest first — same source as the /events
              // feed); an old op may have aged out, that's the ring's
              // documented truncation
              val timeline = eventLog.recent(eventLog.capacity)
                .filter(_.contains(opId)).map(esc).mkString("\n")
              page(200, s"operation $opId",
                s"""<p>state: ${esc(op.currentState.toString)} &middot;
                   |session: <a href="/ui/session/${esc(op.session.id)}">${
                  esc(op.session.id.take(8))}&hellip;</a> &middot;
                   |created: ${op.createdMs}</p>
                   |<h2>statement</h2><pre>${esc(stmtOf(op))}</pre>
                   |<h2>event timeline</h2><pre>$timeline</pre>
                   |<h2>pending log</h2><pre>${
                  op.peekLog(200).map(esc).mkString("\n")}</pre>""".stripMargin)
            case None => page(404, "no such operation", "")
          }
        case "batch" :: id :: Nil =>
          Option(batches.get(id)) match {
            case Some(b) =>
              page(200, s"batch $id",
                s"""<p>user: ${esc(b.op.session.user)} &middot; state: ${esc(b.state.toString)}
                   | &middot; appState: ${esc(
                  ApplicationState.fromOperationStateName(b.state.toString).toString)}</p>
                   |<h2>statement</h2><pre>${esc(stmtOf(b.op))}</pre>
                   |<h2>pending log</h2><pre>${
                  b.op.peekLog(500).map(esc).mkString("\n")}</pre>""".stripMargin)
            case None => store.flatMap(_.get(id)) match {
              case Some(rec) =>
                page(200, s"batch $id (restored)",
                  s"""<p>user: ${esc(rec.user)} &middot; state: ${esc(rec.state)}</p>
                     |<h2>statement</h2><pre>${esc(rec.sql)}</pre>${
                    rec.error.map(e => s"<h2>error</h2><pre>${esc(e)}</pre>").getOrElse("")
                  }""".stripMargin)
              case None => page(404, "no such batch", "")
            }
          }
        case _ => page(404, "not found", "")
      }
    } finally ex.close()
  }

  /** Start (or restart, for recovery) one uploaded-resource batch:
    * store record first, then the child JVM; the terminal callback
    * mirrors the final state into the store and frees the user's
    * batch slot exactly once.
    */
  private def startResourceBatch(id: String, user: String,
      resource: java.nio.file.Path, mainClass: Option[String],
      args: Seq[String], insertRecord: Boolean,
      extraResources: Seq[java.nio.file.Path] = Nil,
      requestConf: Map[String, String] = Map.empty): BatchJob = {
    val batchType = if (resource.toString.endsWith(".py")) "PYSPARK" else "SPARK"
    val descriptor =
      s"""{"resourceBatch": true, "batchType": ${q(batchType)}, """ +
        s""""resource": ${q(resource.toString)}""" +
        mainClass.map(c => s""", "mainClass": ${q(c)}""").getOrElse("") +
        s""", "args": [${args.map(q).mkString(",")}]""" +
        (if (extraResources.isEmpty) "" else
          s""", "extraResources": [${
            extraResources.map(p => q(p.toString)).mkString(",")}]""") +
        (if (requestConf.isEmpty) "" else
          s""", "conf": {${requestConf.toSeq.sortBy(_._1)
            .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")}}""") + "}"
    batchSlotUsers.put(id, user)
    try store.foreach { s =>
      if (insertRecord) s.insert(id, user, descriptor, "RUNNING", Some(selfUrl))
      else { s.updateState(id, "RUNNING", None); s.updateOwner(id, selfUrl) }
    } catch { case e: Throwable =>
      batchSlotUsers.remove(id) // caller's decrement is the single release
      throw e
    }
    java.nio.file.Files.createDirectories(stagingDir)
    val job = batchJobBuilder.start(id, user, resource, mainClass, args, terminal => {
      store.foreach(_.updateState(id, terminal, None))
      releaseBatchSlot(id)
    }, extraResources = extraResources, exitFile = Some(batchExitFile(id)),
      requestConf = requestConf)
    procBatches.put(id, job)
    // the child can exit before the callback saw a registered slot
    // entry — release here too; idempotent via the map remove
    if (job.isTerminal) releaseBatchSlot(id)
    job
  }

  /** Multipart `POST /api/v1/batches` — the reference's uploaded-
    * resource batch submit (BatchesResource.scala:194-224): stage the
    * artifact per batch, enforce the enabled toggle and the size cap,
    * run it as a child JVM tracked like any other batch.
    */
  private def handleBatchUpload(ex: HttpExchange, contentType: String): Unit = {
    val raw = ex.getRequestBody.readAllBytes()
    if (!resourceUploadEnabled) {
      reply(ex, 400, """{"error": "Batch resource upload function is disabled."}""")
      return
    }
    val boundary = "boundary=\"?([^\";,\\s]+)\"?".r.findFirstMatchIn(contentType)
      .map(_.group(1)).getOrElse {
        reply(ex, 400, """{"error": "multipart body without a boundary"}""")
        return
      }
    val parts = BatchUpload.parseMultipart(raw, boundary)
    val request = parts.find(_.name == "batchRequest").map(p =>
      Json.fields(new String(p.data, StandardCharsets.UTF_8))).getOrElse {
        reply(ex, 400, """{"error": "batchRequest is required and please check the content type of batchRequest is application/json"}""")
        return
      }
    val filePart = parts.find(p => p.name == "resourceFile" && p.filename.exists(_.nonEmpty))
      .getOrElse {
        reply(ex, 400, """{"error": "resource is a required parameter"}""")
        return
      }
    val batchType = request.str("batchType").getOrElse("SPARK").toUpperCase
    if (batchType != "SPARK" && batchType != "PYSPARK") {
      reply(ex, 400, s"""{"error": ${q(
        s"$batchType is not in the supported list: SPARK, PYSPARK")}}""")
      return
    }
    // className is required for SPARK only (the reference contract);
    // a PYSPARK batch's entry point IS the uploaded script
    val mainClass = request.str("className")
    if (batchType == "SPARK" && mainClass.isEmpty) {
      reply(ex, 400, """{"error": "classname is a required parameter for SPARK"}""")
      return
    }
    val fileName = filePart.filename.get
    if (batchType == "PYSPARK" && !fileName.endsWith(".py")) {
      reply(ex, 400, """{"error": "resource file must be a .py script for PYSPARK"}""")
      return
    }
    if (resourceFileMaxSize > 0 && filePart.data.length > resourceFileMaxSize) {
      reply(ex, 413, s"""{"error": ${q(s"Resource file $fileName exceeds the " +
        s"maximum size limit $resourceFileMaxSize bytes")}}""")
      return
    }
    // Extra (sidecar) resources — the reference's extraResourcesMap
    // (BatchesResource.scala:199-224): the batchRequest names the
    // sidecar files (comma-separated per entry); each must arrive as
    // its own multipart file part, each under the extra-resource size
    // cap. Validation happens BEFORE anything is staged, so an over-
    // cap or missing sidecar leaves no partial batch dir behind.
    val extraNames = request.strMap("extraResourcesMap").values
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSeq.distinct
    def extraPart(n: String): Option[BatchUpload.Part] =
      parts.find(p => (p.name == n || p.filename.contains(n)) &&
        p.filename.exists(_.nonEmpty) && p.name != "resourceFile")
    val missingExtras = extraNames.filter(extraPart(_).isEmpty)
    if (missingExtras.nonEmpty) {
      reply(ex, 400, s"""{"error": ${q(s"required extra resource files " +
        s"[${missingExtras.sorted.mkString(",")}] are not uploaded in the " +
        "multipart form data")}}""")
      return
    }
    val extraParts = extraNames.map(n => n -> extraPart(n).get)
    extraParts.find { case (_, p) =>
      extraResourceFileMaxSize > 0 && p.data.length > extraResourceFileMaxSize
    } match {
      case Some((n, _)) =>
        reply(ex, 413, s"""{"error": ${q(s"Extra resource file $n exceeds the " +
          s"maximum size limit $extraResourceFileMaxSize bytes")}}""")
        return
      case None => ()
    }
    val user = request.str("user").getOrElse("batch")
    val args = request.strs("args")
    // the request's conf map reaches the child as --conf pairs
    // (reference: BatchRequest.conf → spark-submit); the server keeps
    // the sanitization (no master/tag override) in the builder
    val reqConf = request.strMap("conf")
    // Client-provided batch id (the reference's kyuubi.batch.id conf,
    // BatchesResource.scala:252-266): lets a client RETRY a submit
    // idempotently — a resubmit of an id the store already knows
    // returns the EXISTING batch marked duplicated instead of
    // double-running the artifact. Must be a UUID.
    val providedId = reqConf.get("graft.batch.id")
    providedId.foreach { v =>
      if (scala.util.Try(java.util.UUID.fromString(v)).isFailure) {
        reply(ex, 400, s"""{"error": ${q(s"graft.batch.id=$v must be an UUID")}}""")
        return
      }
    }
    providedId.foreach { pid =>
      val known = procBatches.containsKey(pid) || pendingBatches.containsKey(pid) ||
        batches.containsKey(pid) || store.exists(_.get(pid).isDefined)
      if (known) {
        val st =
          if (procBatches.containsKey(pid)) procBatches.get(pid).currentState
          else if (pendingBatches.containsKey(pid)) "PENDING"
          else store.flatMap(_.get(pid)).map(_.state).getOrElse("RUNNING")
        reply(ex, 200, s"""{"id": ${q(pid)}, "state": ${q(st)}, "appState": ${q(
          ApplicationState.fromOperationStateName(st).toString)}, "duplicated": true}""")
        return
      }
    }
    if (!claimBatchSlot(user)) {
      reply(ex, 429, s"""{"error": ${q(
        s"Batch limit per user reached (user: $user, limit: $maxBatchesPerUser)")}}""")
      return
    }
    val id = providedId.getOrElse(java.util.UUID.randomUUID().toString)
    try {
      val staged = BatchUpload.stage(stagingDir, id, fileName, filePart.data)
      val extras = extraParts.map { case (n, p) =>
        BatchUpload.stage(stagingDir, id, p.filename.getOrElse(n), p.data)
      }
      if (batchSubmitterEnabled) {
        // v2 path: accept as PENDING; a submitter worker launches it
        // when a pool slot frees up
        val pending = PendingSubmit(id, user, staged, mainClass, args,
          extras, batchType, requestConf = reqConf)
        val descriptor =
          s"""{"resourceBatch": true, "batchType": ${q(batchType)}, """ +
            s""""resource": ${q(staged.toString)}""" +
            mainClass.map(cn => s""", "mainClass": ${q(cn)}""").getOrElse("") +
            s""", "args": [${args.map(q).mkString(",")}]""" +
            (if (extras.isEmpty) "" else s""", "extraResources": [${
              extras.map(p => q(p.toString)).mkString(",")}]""") +
            (if (reqConf.isEmpty) "" else
              s""", "conf": {${reqConf.toSeq.sortBy(_._1)
                .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")}}""") + "}"
        batchSlotUsers.put(id, user)
        store.foreach(_.insert(id, user, descriptor, "PENDING", Some(selfUrl)))
        pendingBatches.put(id, pending)
        if (!submitQueue.offer(pending)) {
          pendingBatches.remove(id)
          store.foreach(_.updateState(id, "ERROR",
            Some("batch submitter queue is full")))
          releaseBatchSlot(id)
          reply(ex, 429, """{"error": "batch submitter queue is full"}""")
        } else {
          reply(ex, 200, s"""{"id": ${q(id)}, "state": "PENDING", """ +
            s""""appState": "PENDING", "batchType": ${q(batchType)}}""")
        }
      } else {
        val job = startResourceBatch(id, user, staged, mainClass, args,
          insertRecord = true, extraResources = extras, requestConf = reqConf)
        val st = job.currentState
        reply(ex, 200, s"""{"id": ${q(id)}, "state": ${q(st)}, "appState": ${q(
          ApplicationState.fromOperationStateName(st).toString)}, "batchType": ${q(job.batchType)}}""")
      }
    } catch { case e: Throwable =>
      Option(liveBatchCounts.get(user)).foreach(_.decrementAndGet())
      batchSlotUsers.remove(id)
      throw e
    }
  }

  /** Submit a batch statement. `fixedId` pins a recovered batch to its
    * original id; new submissions use the operation handle as the id.
    */
  private def submitBatch(user: String, sql: String, fixedId: Option[String]): String = {
    val sess = engine.openSession(user)
    val op = sess.executeStatement(sql, ResultMode.Bounded(1))
    val id = fixedId.getOrElse(op.handle)
    // register the op→batch route BEFORE any chance of a terminal
    // event, then sync the current state (events that fired between
    // executeStatement and here would otherwise be lost)
    opToBatch.put(op.handle, id)
    val batch = new SqlBatch(op)
    batches.put(id, batch)
    batchSlotUsers.put(id, user)
    try store.foreach { s =>
      if (fixedId.isEmpty) s.insert(id, user, sql, op.currentState.toString, Some(selfUrl))
      else { s.updateState(id, op.currentState.toString, None); s.updateOwner(id, selfUrl) }
    } catch { case e: Throwable =>
      // store failure after registration: disown the slot entry so the
      // caller's catch-side decrement is the single release
      batchSlotUsers.remove(id)
      throw e
    }
    // the op can reach terminal BEFORE opToBatch.put routed its events —
    // release and end here too; both paths are idempotent
    val st = op.currentState
    if (st.terminal) { releaseBatchSlot(id); batch.end(st) }
    id
  }

  // Recovery: resubmit batches a previous server incarnation left
  // unfinished, under their original ids (reference
  // BatchJobSubmission recovery path). Resource batches relaunch from
  // their still-staged artifact; a missing artifact is a terminal
  // ERROR, not a crash loop.
  /** Recover one unfinished record into THIS gateway: adopt the
    * surviving tagged process if one exists (find-before-resubmit, the
    * reference BatchJobSubmission recovery order), else relaunch from
    * the staged artifact; SQL batches resubmit under their original
    * id. Shared by startup recovery and the admin reassign verb — both
    * re-own the record to this instance.
    */
  private def recoverOrAdopt(rec: BatchMetadataStore#BatchRecord): Unit = {
    claimBatchSlot(rec.user, enforce = false) // recovered batches occupy slots
    try {
      if (rec.sql.contains("\"resourceBatch\": true")) {
        val descriptor = Json.fields(rec.sql)
        RestFrontend.findBatchProcessByTag(rec.id) match {
          case Some(handle) =>
            batchSlotUsers.put(rec.id, rec.user)
            store.foreach(_.updateOwner(rec.id, selfUrl)) // adoption re-owns
            procBatches.put(rec.id, BatchJob.attach(rec.id, rec.user,
              descriptor.str("batchType").getOrElse("SPARK"), handle, terminal => {
                store.foreach(_.updateState(rec.id, terminal, None))
                releaseBatchSlot(rec.id)
              }, exitFile = Some(batchExitFile(rec.id))))
          case None =>
            val resource = descriptor.str("resource").map(java.nio.file.Paths.get(_))
              .filter(java.nio.file.Files.exists(_))
              .getOrElse(throw new IllegalStateException(
                "staged resource file is gone; cannot recover the batch"))
            startResourceBatch(rec.id, rec.user, resource,
              descriptor.str("mainClass"), descriptor.strs("args"),
              insertRecord = false,
              extraResources = descriptor.strs("extraResources")
                .map(java.nio.file.Paths.get(_))
                .filter(java.nio.file.Files.exists(_)),
              requestConf = descriptor.strMap("conf"))
        }
      } else submitBatch(rec.user, rec.sql, Some(rec.id))
    } catch { case e: Throwable =>
      Option(liveBatchCounts.get(rec.user)).foreach(_.decrementAndGet())
      store.foreach(_.updateState(rec.id, "ERROR", Some(String.valueOf(e.getMessage))))
    }
  }

  store.foreach(_.unfinished().foreach { rec =>
    // HA: a record owned by ANOTHER gateway that is still alive is not
    // ours to recover — the owner holds the live child (the reference
    // recovers only its own kyuubi_instance rows; a dead peer's batches
    // move here either through this same loop finding the owner dead, or
    // through the admin reassign verb without a restart).
    val foreignLiveOwner = rec.owner.exists(o => o != selfUrl && gatewayAlive(o))
    if (!foreignLiveOwner) recoverOrAdopt(rec)
  })

  // Scheduled metadata cleaner: purge terminal batch records past the
  // max age (unfinished records are never touched — restart recovery
  // still finds them). Conf-gated like the reference's
  // METADATA_CLEANER_ENABLED.
  private val metadataCleaner: Option[java.util.concurrent.ScheduledExecutorService] =
    if (metadataMaxAgeMs > 0 && store.isDefined) {
      val s = Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-batch-metadata-cleaner")
        t.setDaemon(true)
        t
      })
      s.scheduleWithFixedDelay(() =>
        try runMetadataCleanerOnce() catch { case _: Throwable => () },
        metadataCleanerIntervalMs, metadataCleanerIntervalMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      Some(s)
    } else None

  /** One cleaner pass (the scheduler's tick; public-to-tests so the
    * purge is drivable without waiting out the interval). A purged
    * record's per-batch artifacts — the staged upload dir and the exit
    * record — expire WITH it (the reference ties uploaded-file
    * lifetime to the session through its TempFileService the same
    * way); without this the staging dir grows one orphan dir per
    * batch forever.
    */
  private[server] def runMetadataCleanerOnce(): Int = {
    val ids = store.map(_.purgeTerminalIds(metadataMaxAgeMs)).getOrElse(Nil)
    ids.foreach { id =>
      try {
        val dir = stagingDir.resolve(id).toFile
        if (dir.isDirectory) org.apache.commons.io.FileUtils.deleteDirectory(dir)
        java.nio.file.Files.deleteIfExists(batchExitFile(id))
      } catch { case _: Throwable => () } // best-effort; next tick retries nothing (record gone) but orphans are inert
    }
    ids.size
  }

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = {
    metadataCleaner.foreach(_.shutdownNow())
    submitterThreads.foreach(_.interrupt())
    server.stop(0)
    // give in-flight requests a bounded time to drain
    httpPool.shutdown()
    httpPool.awaitTermination(10, TimeUnit.SECONDS)
    Events.unregister(metrics)
    Events.unregister(eventLog)
    Events.unregister(sessionCloseListener)
    Events.unregister(batchStateListener)
    store.foreach(_.close())
  }

  private def handle(ex: HttpExchange): Unit = {
    try route(ex)
    catch {
      case e: Throwable =>
        reply(ex, 500, s"""{"error": ${q(String.valueOf(e.getMessage))}}""")
    } finally ex.close()
  }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripPrefix("/api/v1/").split("/").filter(_.nonEmpty)
    val method = ex.getRequestMethod
    (method, path.toList) match {
      // liveness probe for HA peers (the owner-alive check behind
      // cross-gateway batch forwarding) and load balancers
      case ("GET", "ping" :: Nil) =>
        reply(ex, 200, s"""{"status": "ok", "instance": ${q(selfUrl)}}""")

      case ("POST", "sessions" :: Nil) =>
        val user = Json.fields(body(ex)).str("user").getOrElse("anonymous")
        val sess = engine.openSession(user)
        reply(ex, 200, s"""{"sessionId": ${q(sess.id)}}""")

      case ("DELETE", "sessions" :: sid :: Nil) =>
        engine.closeSession(sid)
        reply(ex, 200, """{"closed": true}""")

      case ("POST", "sessions" :: sid :: "statements" :: Nil) =>
        withSession(ex, sid) { sess =>
          val sql = Json.fields(body(ex)).str("sql")
            .getOrElse(throw new IllegalArgumentException("missing sql"))
          val op = sess.executeStatement(sql, ResultMode.Full)
          reply(ex, 200, s"""{"operationId": ${q(op.handle)}}""")
        }

      case ("GET", "sessions" :: sid :: "statements" :: opId :: Nil) =>
        withOp(ex, sid, opId) { op =>
          val err = op.exception.map(e => s""", "error": ${q(String.valueOf(e.getMessage))}""").getOrElse("")
          reply(ex, 200, s"""{"state": ${q(op.currentState.toString)}$err}""")
        }

      case ("GET", "sessions" :: sid :: "statements" :: opId :: "result" :: Nil) =>
        withOp(ex, sid, opId) { op =>
          whenFinished(ex, op) {
            (numParam(ex, "maxRows", 1000)(_.toInt), numParam(ex, "offset", -1L)(_.toLong)) match {
              case (Left(raw), _) => badParam(ex, "maxRows", raw)
              case (_, Left(raw)) => badParam(ex, "offset", raw)
              case (Right(maxRows), Right(offset)) =>
                val (start, json) = jsonPage(op,
                  if (offset >= 0) FetchOrientation.Absolute(offset) else FetchOrientation.Next,
                  maxRows)
                reply(ex, 200, s"""{"offset": $start, "rows": [${json.mkString(",")}]}""")
            }
          }
        }

      case ("POST", "batches" :: Nil)
        if Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .exists(_.toLowerCase.startsWith("multipart/form-data")) =>
        // uploaded-resource batch (reference openBatchSessionWithUpload)
        handleBatchUpload(ex, ex.getRequestHeaders.getFirst("Content-Type"))

      case ("POST", "batches" :: Nil) =>
        // read the request body ONCE — the stream is consumed on first
        // read, so a second body(ex) would see "" and default the user
        val payload = Json.fields(body(ex))
        val sql = payload.str("sql").getOrElse(throw new IllegalArgumentException("missing sql"))
        val user = payload.str("user").getOrElse("batch")
        // Per-user live-batch limit (reference
        // kyuubi.server.limit.batch.connections.per.user via the batch
        // SessionLimiter): atomic increment-then-check — terminal
        // batches stay queryable but release their slot, so only
        // RUNNING work counts.
        if (!claimBatchSlot(user))
          reply(ex, 429, s"""{"error": ${q(
            s"Batch limit per user reached (user: $user, limit: $maxBatchesPerUser)")}}""")
        else {
          val id = try submitBatch(user, sql, None) catch {
            case e: Throwable =>
              // submit failed before registration (or disowned its slot
              // entry): this decrement is the single release
              Option(liveBatchCounts.get(user)).foreach(_.decrementAndGet())
              throw e
          }
          val st = Option(batches.get(id)).map(_.state.toString).getOrElse("PENDING")
          reply(ex, 200, s"""{"id": ${q(id)}, "state": ${q(st)}, "appState": ${q(
            ApplicationState.fromOperationStateName(st).toString)}}""")
        }

      case ("GET", "batches" :: id :: Nil) =>
        // Batch status speaks both vocabularies: the operation state and
        // the cluster-application state [[ApplicationState]] derives
        // from it (PENDING/RUNNING/FINISHED/KILLED/FAILED —
        // identical wording to a YARN report / K8s pod-phase mapping).
        Option(batches.get(id)) match {
          case Some(b) =>
            val st = b.state.toString
            reply(ex, 200, s"""{"id": ${q(id)}, "state": ${q(st)}, "appState": ${q(
              ApplicationState.fromOperationStateName(st).toString)}}""")
          case None if procBatches.containsKey(id) =>
            val job = procBatches.get(id)
            val st = job.currentState
            reply(ex, 200, s"""{"id": ${q(id)}, "state": ${q(st)}, "appState": ${q(
              ApplicationState.fromOperationStateName(st).toString)}, "batchType": ${q(job.batchType)}}""")
          case None if pendingBatches.containsKey(id) =>
            // accepted by the v2 submitter, not yet launched
            val p = pendingBatches.get(id)
            reply(ex, 200, s"""{"id": ${q(id)}, "state": "PENDING", """ +
              s""""appState": "PENDING", "batchType": ${q(p.batchType)}}""")
          case None => store.flatMap(_.get(id)) match {
            // not live in this process: a batch owned by ANOTHER live
            // gateway is forwarded to its owner (reference
            // InternalRestClient redirect, BatchesResource.scala:
            // 378-383) — the owner's answer carries the LIVE state;
            // an unreachable owner falls back to the persisted state
            case Some(rec) if rec.owner.exists(_ != selfUrl) &&
                !terminalStateName(rec.state) =>
              forwardToOwner(rec.owner.get, "GET", s"batches/$id") match {
                case Some((code, respBody)) => reply(ex, code, respBody)
                case None =>
                  val err = rec.error.map(e => s""", "error": ${q(e)}""").getOrElse("")
                  reply(ex, 200, s"""{"id": ${q(id)}, "state": ${q(rec.state)}, "appState": ${q(
                    ApplicationState.fromOperationStateName(rec.state).toString)}, "restored": true$err}""")
              }
            // terminal or self-owned: serve the persisted state (a
            // batch from a previous server incarnation)
            case Some(rec) =>
              val err = rec.error.map(e => s""", "error": ${q(e)}""").getOrElse("")
              reply(ex, 200, s"""{"id": ${q(id)}, "state": ${q(rec.state)}, "appState": ${q(
                ApplicationState.fromOperationStateName(rec.state).toString)}, "restored": true$err}""")
            case None => reply(ex, 404, """{"error": "no such batch"}""")
          }
        }

      // Batch operation log (reference BatchesResource `GET .../localLog`):
      // incremental — each line is delivered once.
      case ("GET", "batches" :: id :: "localLog" :: Nil) =>
        Option(batches.get(id)) match {
          case Some(b) =>
            val lines = b.op.fetchLog(1000)
            reply(ex, 200, s"""{"logRowSet": [${lines.map(q).mkString(",")}], "rowCount": ${lines.size}}""")
          case None if procBatches.containsKey(id) =>
            val lines = procBatches.get(id).fetchLog(1000)
            reply(ex, 200, s"""{"logRowSet": [${lines.map(q).mkString(",")}], "rowCount": ${lines.size}}""")
          case None => store.flatMap(_.get(id)) match {
            // live on another gateway: the owner holds the log ring
            case Some(rec) if rec.owner.exists(_ != selfUrl) &&
                !terminalStateName(rec.state) =>
              forwardToOwner(rec.owner.get, "GET", s"batches/$id/localLog") match {
                case Some((code, respBody)) => reply(ex, code, respBody)
                case None => reply(ex, 200,
                  """{"logRowSet": [], "rowCount": 0, "ownerUnreachable": true}""")
              }
            case _ => reply(ex, 404, """{"error": "no such batch"}""")
          }
        }

      case ("GET", "metrics" :: Nil) =>
        reply(ex, 200, metrics.asJson)

      // Prometheus scrape target (reference kyuubi-metrics
      // PrometheusReporter surface).
      case ("GET", "metrics" :: "prometheus" :: Nil) =>
        reply(ex, 200, metrics.asPrometheus, "text/plain; version=0.0.4; charset=utf-8")

      // ---- admin surface (reference kyuubi-server api/v1
      // {Sessions,Operations,Admin,Batches}Resource listing/cancel
      // endpoints; the web UI's data source) ----

      case ("GET", "sessions" :: Nil) =>
        val items = engine.openSessions.sortBy(_.createdMs).map(sessionJson)
        reply(ex, 200, s"""{"sessions": [${items.mkString(",")}]}""")

      // Reference KyuubiOpenApiResource: the REST API as an OpenAPI 3
      // document (swagger UI and client generators consume this).
      case ("GET", "openapi.json" :: Nil) =>
        reply(ex, 200, RestFrontend.openApiJson)

      // Reference GET /sessions/count — before the {sid} route so the
      // literal segment is not captured as a session id
      case ("GET", "sessions" :: "count" :: Nil) =>
        reply(ex, 200, s"""{"openSessionCount": ${engine.openSessionCount}}""")

      case ("GET", "sessions" :: sid :: Nil) =>
        withSession(ex, sid)(s => reply(ex, 200, sessionJson(s)))

      case ("GET", "sessions" :: sid :: "operations" :: Nil) =>
        withSession(ex, sid) { s =>
          val items = s.openOperations.sortBy(_.createdMs).map(opJson)
          reply(ex, 200, s"""{"operations": [${items.mkString(",")}]}""")
        }

      case ("GET", "operations" :: opId :: Nil) =>
        engine.operation(opId) match {
          case Some(op) => reply(ex, 200, opJson(op))
          case None => reply(ex, 404, """{"error": "no such operation"}""")
        }

      // Reference OperationsResource PUT /operations/{id} with an
      // action document: cancel interrupts the running job group,
      // close also frees the result.
      case ("PUT", "operations" :: opId :: Nil) =>
        val action = Json.fields(body(ex)).str("action").getOrElse("")
        engine.operation(opId) match {
          case None => reply(ex, 404, """{"error": "no such operation"}""")
          case Some(op) => action match {
            case "cancel" =>
              op.cancel()
              reply(ex, 200, s"""{"state": ${q(op.currentState.toString)}}""")
            case "close" =>
              op.close()
              reply(ex, 200, s"""{"state": ${q(op.currentState.toString)}}""")
            case other =>
              reply(ex, 400, s"""{"error": ${q(s"unsupported action: $other")}}""")
          }
        }

      // Reference OperationsResource GET /operations/{id}/event — the
      // operation's lifecycle document (our opJson carries the same
      // fields the KyuubiOperationEvent DTO does).
      case ("GET", "operations" :: opId :: "event" :: Nil) =>
        engine.operation(opId) match {
          case Some(op) => reply(ex, 200, opJson(op))
          case None => reply(ex, 404, """{"error": "no such operation"}""")
        }

      // Reference GET /operations/{id}/resultsetmetadata — the result
      // schema as (columnName, dataType, nullable) rows.
      case ("GET", "operations" :: opId :: "resultsetmetadata" :: Nil) =>
        engine.operation(opId) match {
          case Some(op: ResultOperation) if op.currentState == OperationState.Finished =>
            val cols = op.resultSchema.fields.map(f =>
              s"""{"columnName": ${q(f.name)}, "dataType": ${q(
                f.dataType.simpleString)}, "nullable": ${f.nullable}}""")
            reply(ex, 200, s"""{"columns": [${cols.mkString(",")}]}""")
          case Some(op) =>
            reply(ex, 409, s"""{"state": ${q(op.currentState.toString)}, "error": "result schema not available"}""")
          case None => reply(ex, 404, """{"error": "no such operation"}""")
        }

      // Reference GET /operations/{id}/log?maxrows=n — incremental
      // operation log lines (available WHILE the op runs).
      case ("GET", "operations" :: opId :: "log" :: Nil) =>
        engine.operation(opId) match {
          case Some(op) => numParam(ex, "maxrows", 100)(_.toInt) match {
            case Left(raw) => badParam(ex, "maxrows", raw)
            case Right(max) =>
              val lines = op.fetchLog(math.max(1, math.min(max, 10000)))
              reply(ex, 200, s"""{"logRowSet": [${lines.map(q).mkString(",")}], "rowCount": ${lines.size}}""")
          }
          case None => reply(ex, 404, """{"error": "no such operation"}""")
        }

      // Reference GET /operations/{id}/rowset?maxrows=n&fetchorientation=
      // FETCH_NEXT|FETCH_PRIOR — result pages off the operation's
      // materialized fetch iterator (never re-executing the statement),
      // the REST twin of Thrift FetchResults.
      case ("GET", "operations" :: opId :: "rowset" :: Nil) =>
        engine.operation(opId) match {
          case Some(op: ResultOperation) =>
            whenFinished(ex, op) {
              numParam(ex, "maxrows", 100)(_.toInt) match {
                case Left(raw) => badParam(ex, "maxrows", raw)
                case Right(rawMax) =>
                  val orientation = queryParam(ex, "fetchorientation") match {
                    case Some("FETCH_PRIOR") => FetchOrientation.Prior
                    case _ => FetchOrientation.Next
                  }
                  val (start, json) = jsonPage(op, orientation, math.max(1, math.min(rawMax, 100000)))
                  reply(ex, 200, s"""{"offset": $start, "rowCount": ${json.length}, "rows": [${json.mkString(",")}]}""")
              }
            }
          case Some(_) =>
            reply(ex, 400, """{"error": "operation has no rowset"}""")
          case None => reply(ex, 404, """{"error": "no such operation"}""")
        }

      // Reference SessionsResource metadata operations: each POST
      // starts the DataFrame-producing operation under the session and
      // returns its handle; results page through GET /operations/{id}/
      // rowset exactly like a statement's.
      case ("POST", "sessions" :: sid :: "operations" :: mdOp :: Nil) =>
        withSession(ex, sid) { sess =>
          val payload = Json.fields(body(ex))
          def pat(k: String, dflt: String = "*"): String =
            payload.str(k).filter(_.nonEmpty).getOrElse(dflt)
          val build: Option[org.apache.spark.sql.SparkSession =>
              org.apache.spark.sql.DataFrame] = mdOp match {
            case "catalogs" => Some(graft.core.MetadataOps.getCatalogs)
            case "typeInfo" => Some(graft.core.MetadataOps.getTypeInfo)
            case "tableTypes" => Some(graft.core.MetadataOps.getTableTypes)
            case "schemas" =>
              Some(s => graft.core.MetadataOps.getSchemas(s, pat("schemaName")))
            case "tables" =>
              Some(s => graft.core.MetadataOps.getTables(s,
                pat("schemaName"), pat("tableName")))
            case "columns" => payload.str("tableName") match {
              case Some(t) => Some(s => graft.core.MetadataOps.getColumns(s, t))
              case None => Some(graft.core.MetadataOps.noColumns)
            }
            case "functions" =>
              Some(s => graft.core.MetadataOps.getFunctions(s, pat("functionName")))
            case "statement" =>
              // the reference's alias for statement submission
              val sql = payload.str("statement").orElse(payload.str("sql"))
                .getOrElse(throw new IllegalArgumentException("missing statement"))
              val op = sess.executeStatement(sql, ResultMode.Full)
              reply(ex, 200, s"""{"operationId": ${q(op.handle)}}""")
              None
            case other =>
              reply(ex, 400, s"""{"error": ${q(s"unsupported metadata operation: $other")}}""")
              None
          }
          build.foreach { b =>
            val op = sess.executeMetadata(b)
            reply(ex, 200, s"""{"operationId": ${q(op.handle)}}""")
          }
        }

      // Reference GET /sessions/{id}/info/{infoType} — the Thrift
      // GetInfo vocabulary over REST (13=SERVER_NAME, 17=DBMS_NAME,
      // 18=DBMS_VER, 30=MAX_COLUMN_NAME_LEN)
      case ("GET", "sessions" :: sid :: "info" :: infoType :: Nil) =>
        withSession(ex, sid) { _ =>
          // a non-numeric path segment is the client's error → 400 (the
          // same contract as every parsed query param)
          val kv = scala.util.Try(infoType.trim.toInt).toOption.flatMap {
            case 13 => Some(("SERVER_NAME", "graft"))
            case 17 => Some(("DBMS_NAME", "graft"))
            case 18 => Some(("DBMS_VER", graft.core.Kdf.version))
            case 30 => Some(("MAX_COLUMN_NAME_LEN", "128"))
            case _ => None
          }
          kv match {
            case Some((name, value)) =>
              reply(ex, 200, s"""{"infoType": ${q(name)}, "infoValue": ${q(value)}}""")
            case None =>
              reply(ex, 400, s"""{"error": ${q(s"unsupported info type: $infoType")}}""")
          }
        }

      case ("GET", "batches" :: Nil) =>
        // live batches win over their persisted record (fresher state);
        // the store contributes batches from previous incarnations.
        // Reference BatchesResource listing filters + paging
        // (BatchesResource.scala:420-428): batchUser / batchState /
        // from / size / desc over the merged view.
        val live = batches.entrySet.iterator
        val liveRows = scala.collection.mutable.LinkedHashMap.empty[String, (String, String, String)]
        live.forEachRemaining { e =>
          val user = e.getValue.op.session.user
          val st = e.getValue.state.toString
          liveRows(e.getKey) = (user, st,
            s"""{"id": ${q(e.getKey)}, "user": ${q(user)}, "state": ${q(st)}}""")
        }
        procBatches.forEach { (id, job) =>
          liveRows(id) = (job.user, job.currentState,
            s"""{"id": ${q(id)}, "user": ${q(job.user)}, "state": ${q(job.currentState)}, "batchType": ${q(job.batchType)}}""")
        }
        pendingBatches.forEach { (id, p) =>
          if (!liveRows.contains(id))
            liveRows(id) = (p.user, "PENDING",
              s"""{"id": ${q(id)}, "user": ${q(p.user)}, "state": "PENDING", "batchType": ${q(p.batchType)}}""")
        }
        val createdAfter =
          if (metadataSearchWindowMs > 0)
            System.currentTimeMillis() - metadataSearchWindowMs
          else 0L
        val stored = store.toSeq.flatMap(_.list(createdAfter = createdAfter))
          .filterNot(r => liveRows.contains(r.id))
          .map(r => (r.user, r.state,
            s"""{"id": ${q(r.id)}, "user": ${q(r.user)}, "state": ${q(r.state)}, "restored": true}"""))
        val wantUser = queryParam(ex, "batchUser")
        val wantState = queryParam(ex, "batchState").map(_.toUpperCase)
        val from = queryParam(ex, "from").flatMap(v => scala.util.Try(v.toInt).toOption)
          .filter(_ >= 0).getOrElse(0)
        val size = queryParam(ex, "size").flatMap(v => scala.util.Try(v.toInt).toOption)
          .filter(_ >= 0).getOrElse(100)
        val all = (liveRows.values.toSeq ++ stored).filter { case (u, st, _) =>
          wantUser.forall(_ == u) && wantState.forall(_ == st)
        }.map(_._3)
        val ordered = if (queryParam(ex, "desc").contains("true")) all.reverse else all
        reply(ex, 200,
          s"""{"batches": [${ordered.slice(from, from + size).mkString(",")}], "total": ${all.size}, "from": $from}""")

      // Reference BatchesResource DELETE /batches/{id}: cancel the
      // batch's operation and record the terminal state.
      case ("DELETE", "batches" :: id :: Nil) =>
        Option(batches.get(id)) match {
          case Some(b) =>
            try b.op.cancel() catch { case _: Throwable => }
            store.foreach(_.updateState(id, b.state.toString, None))
            reply(ex, 200, s"""{"id": ${q(id)}, "state": ${q(b.state.toString)}}""")
          case None if procBatches.containsKey(id) =>
            val job = procBatches.get(id)
            try job.cancel() catch { case _: Throwable => }
            // terminal state + store mirror + slot release settle
            // through the job's own drainer callback
            reply(ex, 200, s"""{"id": ${q(id)}, "state": ${q(job.currentState)}}""")
          case None if pendingBatches.containsKey(id) =>
            // still queued: the remove is the atomic claim — win it
            // and no child will ever be spawned (the worker launches
            // only if ITS remove returns the entry). Lose it and a
            // worker is already launching: wait for the live job to
            // appear and cancel THAT, instead of lying CANCELED while
            // the batch runs (and double-releasing the slot).
            val claimed = pendingBatches.remove(id)
            if (claimed != null) {
              claimed.canceled.set(true)
              store.foreach(_.updateState(id, "CANCELED", None))
              releaseBatchSlot(id)
              reply(ex, 200, s"""{"id": ${q(id)}, "state": "CANCELED"}""")
            } else {
              cancelInFlightLaunch(ex, id)
            }
          case None => store.flatMap(_.get(id)) match {
            // owned by ANOTHER gateway: forward the kill to the owner
            // (reference InternalRestClient, BatchesResource.scala:
            // 555-562) — the owner holds the live child process. An
            // unreachable owner degrades to the local tag-kill (our
            // applicationManager.killApplication equivalent: on this
            // host the tagged tree IS the cluster app).
            case Some(rec) if rec.owner.exists(_ != selfUrl) &&
                !terminalStateName(rec.state) =>
              forwardToOwner(rec.owner.get, "DELETE", s"batches/$id") match {
                case Some((code, respBody)) => reply(ex, code, respBody)
                case None =>
                  RestFrontend.findBatchProcessByTag(id).foreach { h =>
                    h.descendants().iterator().asScala.foreach(_.destroy())
                    h.destroy()
                  }
                  store.foreach(_.updateState(id, "CANCELED", None))
                  reply(ex, 200, s"""{"id": ${q(id)}, "state": "CANCELED", "ownerUnreachable": true}""")
              }
            case Some(rec) if !terminalStateName(rec.state) =>
              // self-owned and NON-terminal with no pending entry and
              // no live job: the submitter claimed the pending entry
              // BEFORE our containsKey check — a launch is in flight.
              // Wait for the live job and cancel THAT (or 409), never
              // a 200 'restored' over a batch that still launches
              // (r16 ADVICE).
              cancelInFlightLaunch(ex, id)
            case Some(rec) =>
              // self-owned, terminal — nothing to cancel
              reply(ex, 200, s"""{"id": ${q(id)}, "state": ${q(rec.state)}, "restored": true}""")
            case None => reply(ex, 404, """{"error": "no such batch"}""")
          }
        }

      // Recent event history (newest first) — the reference web-ui's
      // server-event feed over our bus
      case ("GET", "events" :: Nil) =>
        // a malformed or negative limit is the CLIENT's error → 400,
        // not a NumberFormatException-turned-500 (r10 ADVICE)
        queryParam(ex, "limit") match {
          case Some(raw) if scala.util.Try(raw.toInt).toOption.forall(_ < 0) =>
            reply(ex, 400, s"""{"error": "bad limit", "limit": ${q(raw)}}""")
          case other =>
            val limit = other.map(_.toInt).getOrElse(100)
            reply(ex, 200,
              "{\"events\": [" + eventLog.recent(limit).mkString(",") + "]}")
        }

      // All materialized engine spaces with their registrations —
      // feeds the /ui overview + /ui/engines drill-down (reference
      // web-ui Engine page over AdminResource listings).
      case ("GET", "admin" :: "engines" :: Nil) =>
        val rows = engine.engineSpaces.map { space =>
          val nodes = engine.discovery.getAll(space).map(q)
          s"""{"space": ${q(space)}, "engines": [${nodes.mkString(",")}]}"""
        }
        reply(ex, 200, s"""{"spaces": [${rows.mkString(",")}]}""")

      // Reference AdminResource GET/DELETE /admin/engine: inspect and
      // evict discovery registrations for an engine space.
      case ("GET", "admin" :: "engine" :: Nil) =>
        queryParam(ex, "space") match {
          case Some(space) =>
            val nodes = engine.discovery.getAll(space).map(q)
            reply(ex, 200, s"""{"space": ${q(space)}, "engines": [${nodes.mkString(",")}]}""")
          case None => reply(ex, 400, """{"error": "missing space"}""")
        }

      case ("DELETE", "admin" :: "engine" :: Nil) =>
        queryParam(ex, "space") match {
          case Some(space) =>
            engine.discovery.unregister(space)
            reply(ex, 200, s"""{"space": ${q(space)}, "deleted": true}""")
          case None => reply(ex, 400, """{"error": "missing space"}""")
        }

      // Reference AdminResource listing/force-close verbs
      // (AdminResource.scala:170-263, :389, :457): the ADMIN view
      // across ALL users — session/operation listings with a ?users=
      // filter, force-close/cancel by handle, the registered gateway
      // list from discovery, and the live-batch count — gated on the
      // same validated admin identity as the refresh verbs.
      case ("GET", "admin" :: "sessions" :: Nil) => adminGated(ex) {
        val users = queryParam(ex, "users")
          .map(_.split(",").filter(_.nonEmpty).toSet)
        val items = engine.openSessions.sortBy(_.createdMs)
          .filter(s => users.forall(_.contains(s.user))).map(sessionJson)
        reply(ex, 200, s"""{"sessions": [${items.mkString(",")}]}""")
      }

      case ("DELETE", "admin" :: "sessions" :: sid :: Nil) => adminGated(ex) {
        if (engine.session(sid).isDefined) {
          engine.closeSession(sid)
          reply(ex, 200, s"""{"sessionId": ${q(sid)}, "closed": true}""")
        } else reply(ex, 404, """{"error": "no such session"}""")
      }

      case ("GET", "admin" :: "operations" :: Nil) => adminGated(ex) {
        val users = queryParam(ex, "users")
          .map(_.split(",").filter(_.nonEmpty).toSet)
        val items = engine.openSessions
          .filter(s => users.forall(_.contains(s.user)))
          .flatMap(_.openOperations).sortBy(_.createdMs).map(opJson)
        reply(ex, 200, s"""{"operations": [${items.mkString(",")}]}""")
      }

      case ("DELETE", "admin" :: "operations" :: opId :: Nil) => adminGated(ex) {
        engine.operation(opId) match {
          case Some(op) =>
            try op.cancel() catch { case _: Throwable => }
            reply(ex, 200,
              s"""{"operationId": ${q(opId)}, "state": ${q(op.currentState.toString)}}""")
          case None => reply(ex, 404, """{"error": "no such operation"}""")
        }
      }

      case ("GET", "admin" :: "server" :: Nil) => adminGated(ex) {
        // gateway servers self-register under the "gateways" namespace
        // (GatewayServer.Namespace) — the reference lists the server
        // namespace's ZK nodes the same way
        val nodes = engine.discovery.getAll(GatewayServer.Namespace).map(q)
        reply(ex, 200, s"""{"servers": [${nodes.mkString(",")}]}""")
      }

      case ("GET", "admin" :: "batch" :: "count" :: Nil) => adminGated(ex) {
        val wantUser = queryParam(ex, "batchUser")
        val wantState = queryParam(ex, "batchState").map(_.toUpperCase)
        val live = scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
        batches.forEach { (id, b) =>
          live(id) = (b.op.session.user, b.state.toString)
        }
        procBatches.forEach { (id, job) => live(id) = (job.user, job.currentState) }
        val stored = store.toSeq.flatMap(_.list())
          .filterNot(r => live.contains(r.id)).map(r => (r.user, r.state))
        val n = (live.values.toSeq ++ stored).count { case (u, st) =>
          wantUser.forall(_ == u) && wantState.forall(_ == st)
        }
        reply(ex, 200, s"""{"count": $n}""")
      }

      // Reassign a DEAD gateway's unfinished batches to THIS one
      // (reference AdminResource POST /admin/batch/reassign →
      // reassignBatchSessions + recoverBatchSessionsFromReassign):
      // refuses while the named instance still answers its ping (the
      // reference's "KyuubiInstance is alive" guard), then runs the
      // startup recovery path over the peer's records — adopting
      // still-running children by tag, relaunching staged artifacts,
      // re-owning every record moved.
      case ("POST", "admin" :: "batch" :: "reassign" :: Nil) => adminGated(ex) {
        Json.fields(body(ex)).str("from") match {
          case None =>
            reply(ex, 400, """{"error": "missing from (the dead gateway's address)"}""")
          case Some(f) if f == selfUrl =>
            reply(ex, 400, """{"error": "cannot reassign from self"}""")
          case Some(f) if gatewayAlive(f) =>
            reply(ex, 409, s"""{"error": ${q(s"gateway is alive: $f")}}""")
          case Some(f) =>
            val recs = store.toSeq.flatMap(_.unfinished())
              .filter(_.owner.contains(f))
            recs.foreach(recoverOrAdopt)
            reply(ex, 200, s"""{"reassigned": [${
              recs.map(r => q(r.id)).mkString(",")}], "from": ${q(f)}, "to": ${q(selfUrl)}}""")
        }
      }

      // Operator-triggered hot refresh (reference AdminResource
      // .scala:55-75): the interval reloads keep running, but an
      // operator who just edited a policy/profile/deny file gets the
      // change enforced NOW instead of at the next tick. Gated on the
      // admin identity; non-admin gets 403, missing identity 401.
      case ("POST", "admin" :: "refresh" :: what :: Nil) =>
        adminIdentity(ex) match {
          case None =>
            reply(ex, 401, """{"error": "admin refresh requires an authenticated identity"}""")
          case Some(u) if !adminUsers.contains(u) =>
            reply(ex, 403, s"""{"error": ${q(s"user $u is not an administrator")}}""")
          case Some(_) => what match {
            case "authz_policies" => authzPolicyFile match {
              case None => reply(ex, 400, """{"error": "no authz policy file configured"}""")
              case Some(p) =>
                if (graft.plans.AuthzPolicies.forceSyncFile(p))
                  reply(ex, 200, """{"refreshed": "authz_policies"}""")
                else
                  reply(ex, 500,
                    """{"error": "policy reload failed; last good set stays in force"}""")
            }
            case "session_conf_profiles" =>
              val n = confAdvisors.count {
                case f: graft.core.FileSessionConfAdvisor => f.invalidateCache(); true
                case _ => false
              }
              reply(ex, 200, s"""{"refreshed": "session_conf_profiles", "advisors": $n}""")
            case "deny_users" => (thriftLimiter, denyUsersFile) match {
              case (Some(l), Some(f)) =>
                val users = readListFile(f)
                l.setDenyUsers(users)
                reply(ex, 200, s"""{"refreshed": "deny_users", "count": ${users.size}}""")
              case _ =>
                reply(ex, 400, """{"error": "no limiter/deny file configured"}""")
            }
            case "deny_ips" => (thriftLimiter, denyIpsFile) match {
              case (Some(l), Some(f)) =>
                val ips = readListFile(f)
                l.setDenyIps(ips)
                reply(ex, 200, s"""{"refreshed": "deny_ips", "count": ${ips.size}}""")
              case _ =>
                reply(ex, 400, """{"error": "no limiter/deny-ips file configured"}""")
            }
            case other =>
              reply(ex, 404, s"""{"error": ${q(s"unknown refresh target: $other")}}""")
          }
        }

      case _ => reply(ex, 404, """{"error": "not found"}""")
    }
  }

  /** Trino-wire-shaped protocol (the reference's third frontend,
    * server/trino/api/v1/StatementResource.scala): `POST /v1/statement`
    * with the SQL as the request body returns a JSON document with a
    * `nextUri`; the client follows `nextUri` until it disappears, with
    * `columns` + `data` appearing on the final page. Each `nextUri` GET
    * is held up to `Operation.StatusWaitMs` for the query to finish,
    * as Trino holds it up to its `maxWait`. States map to
    * Trino's QUEUED/RUNNING/FINISHED/FAILED vocabulary. Columns carry
    * Trino type names plus a `typeSignature` document, failures carry
    * a Trino error document (message/errorCode/errorName/errorType),
    * and `DELETE` on any statement URI cancels the query.
    */
  private def handleTrino(ex: HttpExchange): Unit = {
    try {
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/statement").split("/").filter(_.nonEmpty)
      (ex.getRequestMethod, path.toList) match {
        case ("POST", Nil) =>
          val sql = body(ex).trim
          if (sql.isEmpty) { reply(ex, 400, """{"error": "empty statement"}"""); return }
          val user = Option(ex.getRequestHeaders.getFirst("X-Trino-User")).getOrElse("trino")
          // each query runs in an engine session of its own, closed once
          // the client has its final document
          def startQuery(query: String): Unit = {
            val sess = engine.openSession(user)
            val op = try {
              applyTrinoSession(ex, sess)
              sess.executeStatement(query, ResultMode.Full)
            } catch { case e: Throwable => engine.closeSession(sess.id); throw e }
            trinoReply(ex, op, op.currentState, firstPoll = true)
          }
          sql match {
            // PREPARE name FROM sql — bookkeeping lives on the CLIENT
            // in the Trino protocol: the server echoes the prepared
            // statement back via X-Trino-Added-Prepare and the client
            // carries it on every later request as
            // X-Trino-Prepared-Statement (reference StatementResource
            // Prepare branch + TrinoContext.buildTrinoResponse).
            case TrinoPrepareRe(name, prepSql) =>
              ex.getResponseHeaders.add("X-Trino-Added-Prepare",
                s"$name=${java.net.URLEncoder.encode(prepSql.trim, "UTF-8")}")
              reply(ex, 200, trinoControlDoc("PREPARE"))
            case TrinoDeallocRe(name) =>
              ex.getResponseHeaders.add("X-Trino-Deallocated-Prepare",
                java.net.URLEncoder.encode(name, "UTF-8"))
              reply(ex, 200, trinoControlDoc("DEALLOCATE"))
            // SET SESSION / RESET SESSION — like prepares, session
            // properties live on the CLIENT in the Trino protocol: the
            // server acknowledges via X-Trino-Set-Session /
            // X-Trino-Reset-Session and the client carries the active
            // set on every later request as X-Trino-Session, which
            // [[trinoSessionProps]] applies to the engine session conf
            // before the statement runs (reference TrinoContext
            // session-property handling).
            case TrinoSetSessionRe(key, rawValue) =>
              val value = rawValue.trim match {
                case s if s.length >= 2 && s.startsWith("'") && s.endsWith("'") =>
                  s.substring(1, s.length - 1).replace("''", "'")
                case s => s
              }
              ex.getResponseHeaders.add("X-Trino-Set-Session",
                s"$key=${java.net.URLEncoder.encode(value, "UTF-8")}")
              reply(ex, 200, trinoControlDoc("SET SESSION"))
            case TrinoResetSessionRe(key) =>
              ex.getResponseHeaders.add("X-Trino-Reset-Session", key)
              reply(ex, 200, trinoControlDoc("RESET SESSION"))
            // USE [catalog.]schema — the default namespace lives on
            // the CLIENT like every other Trino session state: the
            // server acknowledges via X-Trino-Set-Catalog /
            // X-Trino-Set-Schema and the client carries the active
            // pair on later requests as X-Trino-Catalog/-Schema
            // (reference server/trino/api/TrinoContext.scala).
            case TrinoUseRe(cat, schema) =>
              if (cat != null)
                ex.getResponseHeaders.add("X-Trino-Set-Catalog", cat)
              ex.getResponseHeaders.add("X-Trino-Set-Schema", schema)
              reply(ex, 200, trinoControlDoc("USE"))
            // EXECUTE name [USING p1, p2, ...] — bind positional `?`
            // placeholders in the client-carried prepared SQL with the
            // literal parameter texts, then run it as a plain query.
            case TrinoExecuteRe(name, params) =>
              val prepared = trinoPreparedStatements(ex)
              prepared.get(name) match {
                case None =>
                  reply(ex, 400, s"""{"error": "prepared statement $name not found"}""")
                case Some(origin) =>
                  val args = Option(params).map(splitTopLevelCommas).getOrElse(Nil)
                  bindTrinoParams(origin, args) match {
                    case Left(err) => reply(ex, 400, s"""{"error": ${q(err)}}""")
                    case Right(bound) => startQuery(bound)
                  }
              }
            case _ => startQuery(sql)
          }
        case ("GET", opId :: _ :: Nil) =>
          engine.operation(opId) match {
            case Some(op: ExecuteStatement) =>
              // held like Trino's own nextUri maxWait: the client follows
              // nextUri with no pause of its own
              trinoReply(ex, op, op.awaitTerminal(), firstPoll = false)
            case _ => Option(trinoEnded.get(opId)) match {
              case Some(doc) => reply(ex, 200, doc)
              case None => reply(ex, 404, """{"error": "no such query"}""")
            }
          }
        // Trino clients cancel by DELETEing the statement URI (either
        // /v1/statement/{id} or the paged nextUri form) — 204 No Content.
        case ("DELETE", opId :: _) =>
          engine.operation(opId) match {
            case Some(op: ExecuteStatement) =>
              try op.cancel() catch { case _: Throwable => }
              ex.sendResponseHeaders(204, -1)
              ex.close()
              val st = op.currentState
              endTrinoQuery(op, Option.when(st != OperationState.Finished)(
                trinoDoc(op, st, firstPoll = false)))
            case _ if trinoEnded.containsKey(opId) => ex.sendResponseHeaders(204, -1)
            case _ => reply(ex, 404, """{"error": "no such query"}""")
          }
        case _ => reply(ex, 404, """{"error": "not found"}""")
      }
    } catch {
      case e: Throwable =>
        reply(ex, 500, s"""{"error": ${q(String.valueOf(e.getMessage))}}""")
    } finally ex.close()
  }

  // ---- Trino prepared statements (EXECUTE/DEALLOCATE + binding) ----

  private val TrinoSetSessionRe = "(?is)^SET\\s+SESSION\\s+([\\w.]+)\\s*=\\s*(.+?)\\s*;?\\s*$".r
  private val TrinoResetSessionRe = "(?is)^RESET\\s+SESSION\\s+([\\w.]+)\\s*;?\\s*$".r

  /** Client-carried session properties
    * (`X-Trino-Session: key=urlencoded(value)`, repeatable +
    * comma-separable), applied to the engine session's Spark conf
    * before the statement runs. The server-reserved identity
    * namespace stays unsettable from the wire (same rule the Thrift
    * frontend enforces).
    */
  private def applyTrinoSession(ex: HttpExchange, sess: graft.core.EngineSession): Unit = {
    val vs = Option(ex.getRequestHeaders.get("X-Trino-Session"))
      .map(_.asScala.toList).getOrElse(Nil)
    vs.flatMap(_.split(",")).map(_.trim).filter(_.contains("=")).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      val key = k.trim
      if (!key.startsWith("spark.graft.authz.") && !Engine.isReservedClientKey(key))
        sess.spark.conf.set(key, java.net.URLDecoder.decode(v, "UTF-8"))
    }
    // client-carried default namespace (echoed back by the USE verb):
    // an unqualified table name in this statement resolves under the
    // header-named catalog/schema — catalog first, then the schema
    // inside it (reference TrinoContext catalog/schema handling)
    Option(ex.getRequestHeaders.getFirst("X-Trino-Catalog"))
      .map(_.trim).filter(_.nonEmpty)
      .foreach(sess.spark.catalog.setCurrentCatalog)
    Option(ex.getRequestHeaders.getFirst("X-Trino-Schema"))
      .map(_.trim).filter(_.nonEmpty)
      .foreach(sess.spark.catalog.setCurrentDatabase)
  }

  private val TrinoUseRe =
    "(?is)^USE\\s+(?:([\\w]+)\\s*\\.\\s*)?([\\w]+)\\s*;?\\s*$".r

  private val TrinoPrepareRe = "(?is)^PREPARE\\s+(\\w+)\\s+FROM\\s+(.+)$".r
  private val TrinoExecuteRe = "(?is)^EXECUTE\\s+(\\w+)(?:\\s+USING\\s+(.+?))?\\s*;?\\s*$".r
  private val TrinoDeallocRe = "(?is)^DEALLOCATE\\s+PREPARE\\s+(\\w+)\\s*;?\\s*$".r

  /** The client-carried prepared-statement map: every
    * `X-Trino-Prepared-Statement: name=urlencoded(sql)` header value
    * (the values the server previously emitted as Added-Prepare).
    */
  private def trinoPreparedStatements(ex: HttpExchange): Map[String, String] = {
    val vs = Option(ex.getRequestHeaders.get("X-Trino-Prepared-Statement"))
      .map(_.asScala.toSeq).getOrElse(Nil)
    vs.flatMap(_.split(",")).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) =>
          Some(k.trim -> java.net.URLDecoder.decode(v.trim, "UTF-8"))
        case _ => None
      }
    }.toMap
  }

  /** Split `USING` parameter text on top-level commas (quotes and
    * parens respected), preserving each parameter's literal SQL text.
    */
  private def splitTopLevelCommas(s: String): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var inStr = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        cur += c
        if (c == '\'') {
          // '' is an escaped quote inside the literal
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { cur += '\''; i += 1 }
          else inStr = false
        }
      } else c match {
        case '\'' => inStr = true; cur += c
        case '(' => depth += 1; cur += c
        case ')' => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.result().trim; cur.clear()
        case _ => cur += c
      }
      i += 1
    }
    val last = cur.result().trim
    if (last.nonEmpty) out += last
    out.toList
  }

  /** Substitute the Nth top-level `?` placeholder with the Nth
    * parameter's literal text (Trino's prepared-statement execution:
    * parameters are SQL literals spliced positionally; `?` inside
    * string literals is data, not a placeholder).
    */
  private def bindTrinoParams(sql: String, params: List[String]): Either[String, String] = {
    val out = new StringBuilder
    var inStr = false
    var n = 0
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inStr) {
        out += c
        if (c == '\'') {
          if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') { out += '\''; i += 1 }
          else inStr = false
        }
      } else c match {
        case '\'' => inStr = true; out += c
        case '?' =>
          if (n >= params.length)
            return Left(s"too few parameters: statement has more than ${params.length} placeholders")
          out ++= params(n); n += 1
        case _ => out += c
      }
      i += 1
    }
    if (n < params.length)
      Left(s"too many parameters: statement has $n placeholders, got ${params.length}")
    else Right(out.result())
  }

  /** Minimal FINISHED document for protocol-control verbs (PREPARE /
    * DEALLOCATE): no nextUri, an updateType the Trino client surfaces.
    */
  private def trinoControlDoc(updateType: String): String = {
    val id = java.util.UUID.randomUUID().toString
    s"""{"id": "$id", "updateType": "$updateType", """ +
      s""""stats": {"state": "FINISHED", "queued": false, "scheduled": false}, "warnings": []}"""
  }

  // Spark type → Trino wire type (the public Trino protocol's
  // ClientTypeSignature vocabulary).
  private def trinoType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => "boolean"
      case ByteType => "tinyint"
      case ShortType => "smallint"
      case IntegerType => "integer"
      case LongType => "bigint"
      case FloatType => "real"
      case DoubleType => "double"
      case d: DecimalType => s"decimal(${d.precision},${d.scale})"
      case BinaryType => "varbinary"
      case DateType => "date"
      case TimestampType | TimestampNTZType => "timestamp"
      case ArrayType(et, _) => s"array(${trinoType(et)})"
      case MapType(k, v, _) => s"map(${trinoType(k)},${trinoType(v)})"
      case s: StructType =>
        s.fields.map(f => trinoType(f.dataType)).mkString("row(", ",", ")")
      case _ => "varchar"
    }
  }

  private def trinoColumn(f: org.apache.spark.sql.types.StructField): String = {
    val full = trinoType(f.dataType)
    val raw = full.takeWhile(c => c != '(') // decimal(10,2) → decimal
    s"""{"name": ${q(f.name)}, "type": ${q(full)},""" +
      s""" "typeSignature": {"rawType": ${q(raw)}, "arguments": []}}"""
  }

  // Trino error document (QueryError): our engine has one failure
  // class at the wire, so everything maps to GENERIC_INTERNAL_ERROR
  // except user cancels.
  private def trinoError(op: ExecuteStatement, canceled: Boolean): String = {
    val msg = op.exception.map(e => String.valueOf(e.getMessage))
      .getOrElse(if (canceled) "Query was canceled" else "query failed")
    val (code, name, tpe) =
      if (canceled) (1, "USER_CANCELED", "USER_ERROR")
      else (65536, "GENERIC_INTERNAL_ERROR", "INTERNAL_ERROR")
    s"""{"message": ${q(msg)}, "errorCode": $code,""" +
      s""" "errorName": ${q(name)}, "errorType": ${q(tpe)},""" +
      s""" "failureInfo": {"type": ${q(name)}, "message": ${q(msg)}}}"""
  }

  /** The Trino document for `op` in operation state `st`: a `nextUri`
    * until the query is terminal, then its last document (the rows on a
    * GET, or a Trino error). The POST answer never carries rows.
    */
  private def trinoDoc(op: ExecuteStatement, st: OperationState, firstPoll: Boolean): String = {
    import org.apache.spark.sql.types._
    val id = op.handle
    val state = st match {
      case OperationState.Initialized | OperationState.Pending => "QUEUED"
      case OperationState.Running | OperationState.Compiled => "RUNNING"
      case OperationState.Finished => "FINISHED"
      // closed under the client: a DELETE cancels, then closes
      case OperationState.Canceled | OperationState.Closed => "CANCELED"
      case _ => "FAILED"
    }
    val base = s""""id": ${q(id)}, "stats": {"state": ${q(state)}}"""
    if (!trinoFinal(st, firstPoll))
      s"""{$base, "nextUri": ${q(s"/v1/statement/$id/1")}}"""
    else if (st == OperationState.Finished) {
      val schema = op.resultSchema
      val cols = schema.fields.map(trinoColumn).mkString("[", ",", "]")
      val text = new ResultEncoders.Text(op.session.spark)
      // numbers and booleans are JSON literals, but JSON has no NaN or
      // infinity: those are the strings "NaN", "Infinity" and
      // "-Infinity", as Trino writes them; DECIMAL is a plain (never
      // exponent) number; everything else a text-rule string
      def cell(v: Any, dt: DataType): String = dt match {
        case _ if v == null => "null"
        case FloatType | DoubleType =>
          val d = v.asInstanceOf[Number].doubleValue
          if (d.isNaN || d.isInfinite) q(String.valueOf(v)) else String.valueOf(v)
        case BooleanType | ByteType | ShortType | IntegerType | LongType => String.valueOf(v)
        case _: DecimalType => text(v, dt)
        case _ => q(text(v, dt))
      }
      val data = op.fetchIterator.fetch(FetchOrientation.First, Int.MaxValue)
        .map(row => schema.fields.indices.map(i => cell(row.get(i), schema.fields(i).dataType))
          .mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{$base, "columns": $cols, "data": $data}"""
    } else s"""{$base, "error": ${trinoError(op, canceled = state == "CANCELED")}}"""
  }

  private def trinoFinal(st: OperationState, firstPoll: Boolean): Boolean =
    st.terminal && !(firstPoll && st == OperationState.Finished)

  /** Send `op`'s Trino document for state `st`. After the query's last
    * document, release the client and then end the query.
    */
  private def trinoReply(ex: HttpExchange, op: ExecuteStatement, st: OperationState,
      firstPoll: Boolean): Unit = {
    val doc = trinoDoc(op, st, firstPoll)
    try reply(ex, 200, doc)
    finally if (trinoFinal(st, firstPoll)) {
      ex.close()
      endTrinoQuery(op, Option.when(st != OperationState.Finished)(doc))
    }
  }

  /** Close a Trino query's engine session (each query has its own),
    * keeping its error document, if it ended in one, for repeat GETs.
    */
  private def endTrinoQuery(op: Operation, errorDoc: Option[String]): Unit = {
    errorDoc.foreach(trinoEnded.put(op.handle, _))
    engine.closeSession(op.session.id)
  }

  private def sessionJson(s: EngineSession): String =
    s"""{"sessionId": ${q(s.id)}, "user": ${q(s.user)},""" +
      s""" "createdMs": ${s.createdMs}, "lastAccessedMs": ${s.lastAccessedMs},""" +
      s""" "openOperations": ${s.openOperations.size}}"""

  private def opJson(op: Operation): String = {
    val stmt = op match {
      case e: ExecuteStatement => s""", "statement": ${q(e.statement)}"""
      case _ => ""
    }
    val err = op.exception.map(e => s""", "error": ${q(String.valueOf(e.getMessage))}""").getOrElse("")
    s"""{"operationId": ${q(op.handle)}, "sessionId": ${q(op.session.id)},""" +
      s""" "state": ${q(op.currentState.toString)}, "createdMs": ${op.createdMs}$stmt$err}"""
  }

  /** Run `page` once `op` has finished: 409 while it runs, 400 with the
    * failure when it did not finish.
    */
  private def whenFinished(ex: HttpExchange, op: Operation)(page: => Unit): Unit =
    if (!op.currentState.terminal)
      reply(ex, 409, s"""{"state": ${q(op.currentState.toString)}}""")
    else if (op.currentState != OperationState.Finished)
      reply(ex, 400, s"""{"state": ${q(op.currentState.toString)}, "error": ${q(
        op.exception.map(t => String.valueOf(t.getMessage)).getOrElse("operation did not finish"))}}""")
    else page

  /** A page off the operation's materialized result (never re-executing
    * the statement): its start offset and its rows as JSON.
    */
  private def jsonPage(op: ResultOperation, orientation: FetchOrientation,
      max: Int): (Long, Seq[String]) = {
    val it = op.fetchIterator
    val page = it.fetch(orientation, max)
    (it.getFetchStart, ResultEncoders.json(page, op.resultSchema, op.session.spark))
  }

  /** One-entry-per-line list file (deny users / deny IPs): trimmed,
    * blank lines and `#` comments dropped; unreadable → empty.
    */
  private def readListFile(f: java.nio.file.Path): Set[String] =
    if (!java.nio.file.Files.isReadable(f)) Set.empty[String]
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(f).asScala
        .map(_.trim).filter(u => u.nonEmpty && !u.startsWith("#")).toSet
    }

  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .find(_.startsWith(s"$name=")).map(_.stripPrefix(s"$name="))

  /** Identity for the admin verbs: HTTP Basic credentials, validated
    * against `restAuth` when one is configured, asserted otherwise.
    */
  /** Gate an admin verb on a VALIDATED admin identity: no identity →
    * 401, authenticated non-admin → 403 (the refresh verbs' contract,
    * shared by every AdminResource-parity endpoint).
    */
  private def adminGated(ex: HttpExchange)(f: => Unit): Unit =
    adminIdentity(ex) match {
      case None =>
        reply(ex, 401, """{"error": "admin verbs require an authenticated identity"}""")
      case Some(u) if !adminUsers.contains(u) =>
        reply(ex, 403, s"""{"error": ${q(s"user $u is not an administrator")}}""")
      case Some(_) => f
    }

  private def adminIdentity(ex: HttpExchange): Option[String] = {
    val h = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    if (!h.startsWith("Basic ")) None
    else try {
      val decoded = new String(
        java.util.Base64.getDecoder.decode(h.stripPrefix("Basic ").trim),
        StandardCharsets.UTF_8)
      val i = decoded.indexOf(':')
      if (i < 0) None
      else {
        val user = decoded.take(i)
        val pass = decoded.drop(i + 1)
        restAuth match {
          case Some(a) => Some(a.authenticate(user, pass))
          case None => Some(user)
        }
      }
    } catch { case _: Throwable => None }
  }

  private def withSession(ex: HttpExchange, sid: String)(f: EngineSession => Unit): Unit =
    engine.session(sid) match {
      case Some(s) => f(s)
      case None => reply(ex, 404, """{"error": "no such session"}""")
    }

  /** A live statement of session `sid`, or 404. */
  private def withOp(ex: HttpExchange, sid: String, opId: String)(f: ExecuteStatement => Unit): Unit =
    engine.operation(opId) match {
      case Some(op: ExecuteStatement) if op.session.id == sid => f(op)
      case _ if engine.session(sid).isEmpty => reply(ex, 404, """{"error": "no such session"}""")
      case _ => reply(ex, 404, """{"error": "no such operation"}""")
    }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def reply(ex: HttpExchange, code: Int, text: String,
      contentType: String = "application/json"): Unit = {
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }
}

object RestFrontend {

  private val poolThreads = new java.util.concurrent.atomic.AtomicInteger()

  /** Every route the dispatcher serves, as (method, path, tag,
    * summary) — the single source the OpenAPI document renders from,
    * kept beside the dispatcher so a new case updates both.
    */
  private val routes: Seq[(String, String, String, String)] = Seq(
    ("get", "/ping", "server", "liveness probe"),
    ("get", "/openapi.json", "server", "this document"),
    ("get", "/metrics", "server", "gateway counters as JSON"),
    ("get", "/metrics/prometheus", "server", "counters in Prometheus exposition format"),
    ("get", "/events", "server", "recent lifecycle/audit events, newest first"),
    ("post", "/sessions", "sessions", "open a session"),
    ("get", "/sessions", "sessions", "list open sessions"),
    ("get", "/sessions/count", "sessions", "open-session count"),
    ("get", "/sessions/{sessionId}", "sessions", "one session"),
    ("delete", "/sessions/{sessionId}", "sessions", "close a session"),
    ("get", "/sessions/{sessionId}/info/{infoType}", "sessions",
      "GetInfo vocabulary (13=SERVER_NAME, 17=DBMS_NAME, 18=DBMS_VER, 30=MAX_COLUMN_NAME_LEN)"),
    ("get", "/sessions/{sessionId}/operations", "sessions", "the session's operations"),
    ("post", "/sessions/{sessionId}/statements", "statements", "submit a SQL statement"),
    ("get", "/sessions/{sessionId}/statements/{operationId}", "statements", "statement state"),
    ("get", "/sessions/{sessionId}/statements/{operationId}/result", "statements",
      "result page (maxRows, offset)"),
    ("post", "/sessions/{sessionId}/operations/{metadataOp}", "operations",
      "start a metadata operation (catalogs|typeInfo|tableTypes|schemas|tables|columns|functions|statement)"),
    ("get", "/operations/{operationId}", "operations", "operation status"),
    ("get", "/operations/{operationId}/event", "operations", "operation lifecycle document"),
    ("get", "/operations/{operationId}/resultsetmetadata", "operations", "result schema"),
    ("get", "/operations/{operationId}/log", "operations", "operation log page (maxrows)"),
    ("get", "/operations/{operationId}/rowset", "operations",
      "result page (maxrows, fetchorientation=FETCH_NEXT|FETCH_PRIOR)"),
    ("put", "/operations/{operationId}", "operations", "cancel or close ({\"action\": ...})"),
    ("post", "/batches", "batches",
      "submit a batch (JSON sql, or multipart resourceFile + batchRequest)"),
    ("get", "/batches", "batches", "list batches (live + stored; search window params)"),
    ("get", "/batches/{batchId}", "batches", "one batch"),
    ("get", "/batches/{batchId}/localLog", "batches", "incremental batch log"),
    ("delete", "/batches/{batchId}", "batches", "cancel a batch (forwards to the owner)"),
    ("get", "/admin/sessions", "admin", "all users' sessions"),
    ("delete", "/admin/sessions/{sessionId}", "admin", "force-close any session"),
    ("get", "/admin/operations", "admin", "all live operations"),
    ("delete", "/admin/operations/{operationId}", "admin", "cancel any operation"),
    ("get", "/admin/server", "admin", "registered HA gateways"),
    ("get", "/admin/engine", "admin", "discovery registrations for a space"),
    ("delete", "/admin/engine", "admin", "evict engine registrations"),
    ("get", "/admin/engines", "admin", "every share space + registrations"),
    ("get", "/admin/batch/count", "admin", "live+stored batch count"),
    ("post", "/admin/batch/reassign", "admin",
      "take a dead gateway's unfinished batches (409 while the source answers)"),
    ("post", "/admin/refresh/{target}", "admin",
      "hot-reload authz_policies | session_conf_profiles | deny_users | deny_ips"))

  /** OpenAPI 3 document of the surface above (reference
    * KyuubiOpenApiResource serves the swagger-generated equivalent at
    * the same path).
    */
  private[server] lazy val openApiJson: String = {
    val byPath = routes.groupBy(_._2)
    val paths = byPath.toSeq.sortBy(_._1).map { case (path, ops) =>
      val params = "\\{(\\w+)\\}".r.findAllMatchIn(path).map(_.group(1)).toSeq
      val paramJson = if (params.isEmpty) "" else
        s""", "parameters": [${params.map(p =>
          s"""{"name": ${q(p)}, "in": "path", "required": true, "schema": {"type": "string"}}""")
          .mkString(",")}]"""
      val opJson = ops.map { case (method, _, tag, summary) =>
        s"""${q(method)}: {"tags": [${q(tag)}], "summary": ${q(summary)},""" +
          s""" "responses": {"200": {"description": "OK"}}}"""
      }.mkString(",")
      s"""${q(path)}: {$opJson$paramJson}"""
    }.mkString(",")
    s"""{"openapi": "3.0.3", "info": {"title": "graft REST API",""" +
      s""" "version": ${q(graft.core.Kdf.version)}}, "servers": [{"url": "/api/v1"}],""" +
      s""" "paths": {$paths}}"""
  }

  /** Live batch-child lookup by the `graft.batch.tag=<id>` its command
    * line carries (the reference's JpsApplicationOperation pattern;
    * recovery's find-before-resubmit). Excludes this process itself.
    */
  private[server] def findBatchProcessByTag(id: String): Option[ProcessHandle] = {
    import scala.jdk.CollectionConverters._
    val tag = s"graft.batch.tag=$id"
    def tagged(h: ProcessHandle): Boolean =
      h.isAlive && h.info().commandLine().map[Boolean](_.contains(tag)).orElse(false)
    // the exit-file wrapper means TWO live processes legitimately carry
    // the tag (the sh wrapper and the JVM under it); adoption wants the
    // ROOT of that tree — the one whose parent is untagged — so kill
    // and exit-truth both act on the whole launch
    ProcessHandle.allProcesses().iterator().asScala.find { h =>
      h.pid() != ProcessHandle.current().pid() && tagged(h) &&
        !h.parent().map[Boolean](tagged(_)).orElse(false)
    }
  }

  /** The embedded admin page: plain HTML + fetch() against the JSON
    * admin endpoints, refreshed every 5 s. No framework, no build step,
    * nothing to vendor — the page is the API's data, rendered.
    */
  /** SQL lab — the reference web-ui's editor page (kyuubi-server/
    * web-ui "Editor"): a statement box driving the REST statement
    * lifecycle from the browser (open session once, submit, poll,
    * page results). Pure fetch() against /api/v1, zero dependencies.
    */
  private[server] val SqlLabPage: String =
    """<!DOCTYPE html>
      |<html lang="en"><head><meta charset="utf-8"><title>graft sql lab</title>
      |<style>
      |  body { font-family: system-ui, sans-serif; margin: 1.5rem; color: #1a1a1a; }
      |  h1 { font-size: 1.2rem; }
      |  textarea { width: 100%; height: 7rem; font-family: monospace; font-size: .9rem; }
      |  button { margin: .5rem 0; padding: .35rem 1.2rem; }
      |  table { border-collapse: collapse; margin-top: 1rem; }
      |  th, td { border: 1px solid #ccc; padding: .3rem .6rem; font-size: .85rem; text-align: left; }
      |  th { background: #f2f2f2; }
      |  #status { font-family: monospace; font-size: .85rem; margin-left: 1rem; }
      |  #status.err { color: #c22; }
      |</style></head><body><p><a href="/ui">&larr; overview</a></p>
      |<h1>SQL lab</h1>
      |<textarea id="sql">SELECT id, id * id AS sq FROM range(10)</textarea><br>
      |<button id="run">Run</button><span id="status"></span>
      |<table id="result"></table>
      |<script>
      |let sid = null;
      |async function session() {
      |  if (sid) return sid;
      |  const r = await (await fetch('/api/v1/sessions', {method: 'POST',
      |    body: JSON.stringify({user: 'sql-lab'})})).json();
      |  sid = r.sessionId;
      |  return sid;
      |}
      |function setStatus(msg, err) {
      |  const el = document.getElementById('status');
      |  el.textContent = msg; el.className = err ? 'err' : '';
      |}
      |async function run() {
      |  const sql = document.getElementById('sql').value;
      |  const t = document.getElementById('result');
      |  t.innerHTML = '';
      |  try {
      |    const s = await session();
      |    const sub = await (await fetch('/api/v1/sessions/' + s + '/statements',
      |      {method: 'POST', body: JSON.stringify({sql: sql})})).json();
      |    const op = sub.operationId;
      |    let state = sub.state;
      |    while (!['FINISHED', 'ERROR', 'CANCELED', 'TIMEOUT', 'CLOSED'].includes(state)) {
      |      setStatus(state);
      |      await new Promise(res => setTimeout(res, 250));
      |      const st = await (await fetch('/api/v1/sessions/' + s + '/statements/' + op)).json();
      |      state = st.state;
      |      if (state === 'ERROR') { setStatus('ERROR: ' + (st.error || ''), true); return; }
      |    }
      |    if (state !== 'FINISHED') { setStatus(state, true); return; }
      |    const res = await (await fetch('/api/v1/sessions/' + s + '/statements/' + op
      |      + '/result?maxRows=200')).json();
      |    const rows = res.rows || [];
      |    setStatus('FINISHED - ' + rows.length + ' rows');
      |    if (!rows.length) return;
      |    const cols = Object.keys(rows[0]);
      |    const hr = document.createElement('tr');
      |    cols.forEach(c => { const th = document.createElement('th'); th.textContent = c; hr.appendChild(th); });
      |    t.appendChild(hr);
      |    rows.forEach(r => {
      |      const tr = document.createElement('tr');
      |      cols.forEach(c => { const td = document.createElement('td');
      |        td.textContent = r[c] === undefined ? '' : JSON.stringify(r[c]).replace(/^"|"$/g, ''); tr.appendChild(td); });
      |      t.appendChild(tr);
      |    });
      |  } catch (e) { setStatus(String(e), true); }
      |}
      |document.getElementById('run').addEventListener('click', run);
      |</script></body></html>
      |""".stripMargin

  private[server] val UiPage: String =
    """<!DOCTYPE html>
      |<html lang="en"><head><meta charset="utf-8"><title>graft admin</title>
      |<style>
      |  body { font-family: system-ui, sans-serif; margin: 1.5rem; color: #1a1a1a; }
      |  h1 { font-size: 1.3rem; } h2 { font-size: 1.05rem; margin-top: 1.5rem; }
      |  table { border-collapse: collapse; min-width: 40rem; }
      |  th, td { border: 1px solid #ccc; padding: .3rem .6rem; font-size: .85rem; text-align: left; }
      |  th { background: #f2f2f2; }
      |  .state-RUNNING { color: #0a6; } .state-ERROR { color: #c22; }
      |  #metrics { font-family: monospace; white-space: pre; font-size: .85rem; }
      |</style></head><body>
      |<h1>graft gateway</h1>
      |<p><a href="/ui/sql">SQL lab</a> &middot; <a href="/ui/engines">engines</a>
      | &middot; <a href="/ui/sessions">sessions</a>
      | &middot; <a href="/ui/operations">operations</a>
      | &middot; <a href="/ui/server">server</a></p>
      |<h2>Engines</h2><table id="engines"></table>
      |<h2>Sessions</h2><table id="sessions"></table>
      |<h2>Operations</h2><table id="operations"></table>
      |<h2>Batches</h2><table id="batches"></table>
      |<h2>Metrics</h2><div id="metrics"></div>
      |<h2>Recent events</h2><div id="events"></div>
      |<script>
      |const cell = v => { const td = document.createElement('td'); td.textContent = v; return td; };
      |// link[col] = detail-page prefix: the cell becomes an <a> into the
      |// server-rendered drill-down (/ui/session/…, /ui/operation/…, /ui/batch/…)
      |function fill(id, rows, cols, links) {
      |  const t = document.getElementById(id);
      |  t.innerHTML = '';
      |  const hr = document.createElement('tr');
      |  cols.forEach(c => { const th = document.createElement('th'); th.textContent = c; hr.appendChild(th); });
      |  t.appendChild(hr);
      |  rows.forEach(r => {
      |    const tr = document.createElement('tr');
      |    cols.forEach(c => {
      |      let td;
      |      if (links && links[c] && r[c] !== undefined) {
      |        td = document.createElement('td');
      |        const a = document.createElement('a');
      |        a.href = links[c] + encodeURIComponent(r[c]);
      |        a.textContent = r[c];
      |        td.appendChild(a);
      |      } else {
      |        td = cell(r[c] === undefined ? '' : r[c]);
      |      }
      |      if (c === 'state') td.className = 'state-' + r[c];
      |      tr.appendChild(td);
      |    });
      |    t.appendChild(tr);
      |  });
      |}
      |async function refresh() {
      |  try {
      |    const sess = (await (await fetch('/api/v1/sessions')).json()).sessions;
      |    fill('sessions', sess, ['sessionId', 'user', 'createdMs', 'openOperations'],
      |         {sessionId: '/ui/session/'});
      |    const ops = [];
      |    for (const s of sess) {
      |      const os = (await (await fetch('/api/v1/sessions/' + s.sessionId + '/operations')).json()).operations;
      |      ops.push(...os);
      |    }
      |    fill('operations', ops, ['operationId', 'sessionId', 'state', 'statement'],
      |         {operationId: '/ui/operation/', sessionId: '/ui/session/'});
      |    const batches = (await (await fetch('/api/v1/batches')).json()).batches;
      |    fill('batches', batches, ['id', 'user', 'state'], {id: '/ui/batch/'});
      |    const spaces = (await (await fetch('/api/v1/admin/engines')).json()).spaces
      |      .map(s => ({space: s.space, registrations: s.engines.length}));
      |    fill('engines', spaces, ['space', 'registrations'], {});
      |    // space names contain '/' — link to the rejoin-style page, not encodeURIComponent
      |    Array.from(document.getElementById('engines').querySelectorAll('tr')).slice(1).forEach(tr => {
      |      const td = tr.children[0];
      |      const a = document.createElement('a');
      |      a.href = '/ui/engines/' + td.textContent;
      |      a.textContent = td.textContent;
      |      td.textContent = ''; td.appendChild(a);
      |    });
      |    const m = await (await fetch('/api/v1/metrics')).json();
      |    document.getElementById('metrics').textContent = JSON.stringify(m, null, 2);
      |    const ev = (await (await fetch('/api/v1/events?limit=25')).json()).events;
      |    const evEl = document.getElementById('events');
      |    evEl.textContent = ev.map(e => JSON.stringify(e)).join('\n');
      |    evEl.style.cssText = 'font-family: monospace; white-space: pre; font-size: .8rem;';
      |  } catch (e) { console.error(e); }
      |}
      |refresh();
      |setInterval(refresh, 5000);
      |</script></body></html>
      |""".stripMargin
}
