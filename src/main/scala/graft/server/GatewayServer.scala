package graft.server

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentHashMap
import javax.security.auth.callback.{Callback, CallbackHandler, NameCallback, PasswordCallback}

import org.apache.hive.service.rpc.thrift._
import org.apache.thrift.protocol.TBinaryProtocol
import org.apache.thrift.transport.{TSaslClientTransport, TSocket, TTransport}

import graft.core.ShareLevel

/** The gateway in its deployed shape: a TCLIService server that owns NO
  * SparkSession — it routes every JDBC/beeline connection to the
  * connecting user's OWN engine JVM (launched on demand through
  * [[EnginePool]], found through discovery) and forwards the Thrift
  * conversation to it. This is the reference's server↔engine split
  * (KyuubiServer's TBinaryFrontendService + KyuubiSessionImpl opening a
  * client session on the EngineRef it resolves), which is what gives
  * one tenant's OOM/crash no blast radius into another's.
  *
  * Routing is handle-pass-through: the engine's own session/operation
  * handles go back to the client verbatim, and the gateway keeps
  * guid→connection maps to route follow-up calls (fetch, status,
  * cancel, metadata) to the right engine. One Thrift connection per
  * gateway session, serialized per connection (TCLIService.Client is
  * not thread-safe).
  *
  * With the pool's builder configured with an engine secret, the
  * gateway authenticates to engines with freshly-minted
  * [[EngineTokenManager]] tokens; its own client-facing socket takes
  * the usual [[AuthenticationProvider]] options (noSasl or SASL PLAIN).
  */
final class GatewayServer(
    builder: EngineProcBuilder,
    requestedPort: Int = 0,
    auth: Option[AuthenticationProvider] = None,
    shareLevel: ShareLevel = ShareLevel.User,
    groupProvider: graft.core.GroupProvider = new graft.core.UserPrefixGroupProvider,
    confAdvisors: Seq[graft.core.SessionConfAdvisor] = Nil,
    selfRegister: Boolean = false,
    advertisedHost: String = "127.0.0.1",
    // reference kyuubi.engine.pool.size + pool.select.policy: N engine
    // JVMs per share space, POLLING (round-robin) or RANDOM selection
    poolSize: Int = 1,
    selectPolicy: String = "POLLING",
    // hard read timeout on every gateway→engine socket: a WEDGED engine
    // turns an indefinite hang into a clean forward error (0 = none)
    engineSocketTimeoutMs: Int = 0,
    // engine alive probe (reference KyuubiSyncThriftClient
    // engine-alive-probe session): interval 0 disables
    aliveProbeIntervalMs: Long = 0,
    aliveProbeTimeoutMs: Int = 5000,
    aliveProbeMaxFailures: Int = 3,
    // The gateway's delegation-token renewal loop (reference
    // KyuubiSessionImpl calls HadoopCredentialsManager
    // .sendCredentialsIfNeeded before each operation): when set, every
    // operation-producing forward first pushes the session user's
    // renewed credentials to the engine over RenewDelegationToken —
    // a long-lived engine keeps serving fresh tokens, not its
    // launch-time ones. Usually the same manager the builder ships
    // launch credentials from.
    credentials: Option[CredentialsManager] = None) {

  // An engine holds GetOperationStatus up to Operation.StatusWaitMs, so
  // a read timeout at or below it would fail (and evict) healthy
  // connections whose statements merely run long.
  require(engineSocketTimeoutMs <= 0 ||
    engineSocketTimeoutMs > graft.core.Operation.StatusWaitMs,
    s"engineSocketTimeoutMs ($engineSocketTimeoutMs) must be 0 (none) or above " +
      s"the engine's status long-poll of ${graft.core.Operation.StatusWaitMs} ms")

  private val pool = new EnginePool(builder, poolSize, selectPolicy)
  private val discovery = builder.discoveryClient

  /** Pooled engine processes by slot (tests wedge/inspect them). */
  private[server] def poolSnapshot: Map[String, EngineProcBuilder#EngineProcess] =
    pool.snapshot

  /** The pool's alive prober — exposed so tests can drive
    * `probeOnce()` deterministically instead of racing the scheduler.
    */
  val prober: EngineAliveProber = new EngineAliveProber(
    pool, builder, intervalMs = aliveProbeIntervalMs,
    probeTimeoutMs = aliveProbeTimeoutMs, maxFailures = aliveProbeMaxFailures,
    onEvict = msg => graft.core.Events.post(graft.core.Events.SessionEvent(
      "engine-probe", "graft-probe", s"ENGINE_EVICTED: $msg",
      System.currentTimeMillis())))

  /** Discovery space for a new session — the reference's
    * engine.share.level at process granularity: USER pools one engine
    * JVM per user, GROUP one per provider-resolved primary group
    * (reference ShareLevel.scala:23-46 GROUP + GroupProvider), SERVER
    * shares one engine across every connection, CONNECTION gives each
    * connection a throwaway engine of its own. `conf` is the
    * advisor-merged session conf — group membership rides the
    * server-reserved `graft.server.*` channel, never client-asserted.
    */
  private def spaceFor(user: String, conf: Map[String, String]): String = shareLevel match {
    case ShareLevel.User => s"user/$user"
    case ShareLevel.Group => s"group/${groupProvider.primaryGroup(user, conf)}"
    case ShareLevel.Server => "server/shared"
    case ShareLevel.Connection =>
      s"connection/$user/${java.util.UUID.randomUUID().toString.take(8)}"
  }

  private final class EngineConn(val client: TCLIService.Client, val transport: TTransport,
      val space: String, val user: String)

  private val sessionConns = new ConcurrentHashMap[ByteBuffer, EngineConn]()
  private val opConns = new ConcurrentHashMap[ByteBuffer, EngineConn]()

  private def key(h: THandleIdentifier): ByteBuffer =
    ByteBuffer.wrap(h.getGuid.clone())

  private def connect(address: String, user: String, space: String): EngineConn = {
    val Array(host, port) = address.split(":")
    // a positive read timeout keeps a wedged engine from hanging the
    // gateway worker thread (and the client) forever — the forward
    // surfaces a clean ERROR_STATUS instead
    val sock = new TSocket(host, port.toInt, engineSocketTimeoutMs)
    val transport: TTransport = builder.issueToken() match {
      case Some(token) =>
        new TSaslClientTransport(
          "PLAIN", null, null, null, new java.util.HashMap[String, String](),
          new CallbackHandler {
            override def handle(callbacks: Array[Callback]): Unit = callbacks.foreach {
              case nc: NameCallback => nc.setName(user)
              case pc: PasswordCallback => pc.setPassword(token.toCharArray)
              case _ =>
            }
          },
          sock)
      case None => sock
    }
    transport.open()
    new EngineConn(new TCLIService.Client(new TBinaryProtocol(transport)), transport, space, user)
  }

  private def sessionConn(h: TSessionHandle): Option[EngineConn] =
    Option(sessionConns.get(key(h.getSessionId)))

  private def opConn(h: TOperationHandle): Option[EngineConn] =
    Option(opConns.get(key(h.getOperationId)))

  private def errStatus(msg: String): TStatus = {
    val st = new TStatus(TStatusCode.ERROR_STATUS)
    st.setErrorMessage(msg)
    st
  }

  /** Forward one call through an engine connection, converting any
    * transport failure (dead engine, wedged engine hitting the socket
    * read timeout) into a clean ERROR_STATUS reply instead of letting
    * the exception tear down the client's gateway connection.
    *
    * The failed conn is also CLOSED and evicted from the routing maps:
    * after a read timeout the engine's late reply stays buffered on
    * the socket, so every later call on that connection would fail
    * with Thrift out-of-sequence errors forever. Evicting gives the
    * next call a clean "unknown session" instead of a permanently
    * wedged connection (the reference marks the client broken and
    * closes it — KyuubiSyncThriftClient's broken flag).
    */
  private def forward[R](conn: EngineConn, mkErr: TStatus => R)(
      f: TCLIService.Client => R): R =
    try conn.synchronized(f(conn.client))
    catch {
      case e: Throwable =>
        evictConn(conn)
        mkErr(errStatus(s"engine forward failed (${conn.space}): ${e.getMessage}"))
    }

  /** Drop an engine connection (desynced, or its session closed): close
    * its transport and remove every session/operation route pointing at
    * it.
    */
  private def evictConn(conn: EngineConn): Unit = {
    try conn.transport.close() catch { case _: Throwable => }
    sessionConns.entrySet.removeIf(e => e.getValue eq conn)
    opConns.entrySet.removeIf(e => e.getValue eq conn)
  }

  /** Epoch-compared credential push ahead of an operation (reference
    * KyuubiSessionImpl.runOperation → sendCredentialsIfNeeded): only
    * when the user's bundle is newer than what this session last
    * delivered does a RenewDelegationToken ride to the engine; an
    * engine-side error (or a dead transport) throws, so the session
    * epoch stays unadvanced and the push retries on the next call.
    */
  private def pushCredentialsIfNeeded(h: TSessionHandle, conn: EngineConn): Unit =
    credentials.foreach { cm =>
      cm.sendCredentialsIfNeeded(GatewayServer.sessionKey(h), conn.user) { enc =>
        val resp = conn.synchronized(
          conn.client.RenewDelegationToken(new TRenewDelegationTokenReq(h, enc)))
        if (resp.getStatus.getStatusCode != TStatusCode.SUCCESS_STATUS) {
          throw new IllegalStateException(
            s"credential push rejected by engine (${conn.space}): " +
              resp.getStatus.getErrorMessage)
        }
      }
    }

  /** Forward an operation-producing call through its session's engine,
    * recording the returned operation handle for follow-up routing.
    */
  private def viaSession[R](h: TSessionHandle, mkErr: TStatus => R)(
      f: TCLIService.Client => R)(op: R => TOperationHandle): R =
    sessionConn(h) match {
      case None => mkErr(errStatus("unknown session"))
      case Some(conn) =>
        pushCredentialsIfNeeded(h, conn)
        val resp = forward(conn, mkErr)(f)
        val oh = op(resp)
        if (oh != null) opConns.put(key(oh.getOperationId), conn)
        resp
    }

  private val iface: TCLIService.Iface = new TCLIService.Iface {

    override def OpenSession(req: TOpenSessionReq): TOpenSessionResp = {
      val user = PlainSasl.authenticatedUser
        .orElse(Option(req.getUsername).filter(_.nonEmpty))
        .getOrElse("anonymous")
      try {
        // engine placement uses the SANITIZED + advisor-merged conf:
        // client graft.server.* keys are dropped first (same channel
        // discipline as Engine.advisedConf), so a client asserting its
        // own group membership cannot steer itself into another
        // group's engine JVM
        import scala.jdk.CollectionConverters._
        val clientConf = Option(req.getConfiguration)
          .map(_.asScala.toMap).getOrElse(Map.empty[String, String])
        val sanitized = clientConf.filterNot { case (k, _) =>
          graft.core.Engine.isReservedClientKey(k) }
        val advised = confAdvisors.foldLeft(sanitized)((acc, a) =>
          acc ++ a.confOverlay(user, acc))
        val space = spaceFor(user, advised)
        // Session-selectable pool width under the server threshold
        // (reference kyuubi.engine.pool.size as a session conf bounded
        // by pool.size.threshold, EngineRef.scala:88 +
        // KyuubiConf.scala:2639-2653): the ask rides the SANITIZED +
        // advised conf, and the pool clamps it to [1, poolSize].
        val requestedPool = advised.collectFirst {
          // Hive JDBC forwards URL conf as set:hiveconf:<key>
          case (k, v) if k.stripPrefix("set:hiveconf:").stripPrefix("set:hivevar:")
            == "graft.engine.pool.size" => v
        }.flatMap(v => scala.util.Try(v.trim.toInt).toOption)
        val engine = pool.getOrLaunch(space, requestedPool)
        val conn = connect(engine.address, user, space)
        val resp =
          try conn.synchronized(conn.client.OpenSession(req))
          catch { case e: Throwable =>
            // never registered: close the orphan transport here
            try conn.transport.close() catch { case _: Throwable => }
            throw e
          }
        if (resp.getSessionHandle != null)
          sessionConns.put(key(resp.getSessionHandle.getSessionId), conn)
        resp
      } catch {
        case e: Throwable =>
          val resp = new TOpenSessionResp()
          resp.setStatus(errStatus(s"engine launch/connect failed for '$user': ${e.getMessage}"))
          resp
      }
    }

    override def CloseSession(req: TCloseSessionReq): TCloseSessionResp =
      sessionConn(req.getSessionHandle) match {
        case None =>
          new TCloseSessionResp(errStatus("unknown session"))
        case Some(conn) =>
          val resp = forward(conn, new TCloseSessionResp(_))(_.CloseSession(req))
          // the conn is this session's alone: drop it with every route
          // to it, the unclosed operations' included
          evictConn(conn)
          credentials.foreach(_.removeSessionCredentialsEpoch(
            GatewayServer.sessionKey(req.getSessionHandle)))
          // an unshared (CONNECTION-level) engine dies with its session
          if (shareLevel == ShareLevel.Connection) pool.stop(conn.space)
          resp
      }

    override def GetInfo(req: TGetInfoReq): TGetInfoResp =
      sessionConn(req.getSessionHandle) match {
        case None => new TGetInfoResp(errStatus("unknown session"), null)
        case Some(conn) => forward(conn, new TGetInfoResp(_, null))(_.GetInfo(req))
      }

    override def ExecuteStatement(req: TExecuteStatementReq): TExecuteStatementResp =
      viaSession(req.getSessionHandle, new TExecuteStatementResp(_))(_.ExecuteStatement(req))(
        _.getOperationHandle)

    override def GetTypeInfo(req: TGetTypeInfoReq): TGetTypeInfoResp =
      viaSession(req.getSessionHandle, new TGetTypeInfoResp(_))(_.GetTypeInfo(req))(
        _.getOperationHandle)

    override def GetCatalogs(req: TGetCatalogsReq): TGetCatalogsResp =
      viaSession(req.getSessionHandle, new TGetCatalogsResp(_))(_.GetCatalogs(req))(
        _.getOperationHandle)

    override def GetSchemas(req: TGetSchemasReq): TGetSchemasResp =
      viaSession(req.getSessionHandle, new TGetSchemasResp(_))(_.GetSchemas(req))(
        _.getOperationHandle)

    override def GetTables(req: TGetTablesReq): TGetTablesResp =
      viaSession(req.getSessionHandle, new TGetTablesResp(_))(_.GetTables(req))(
        _.getOperationHandle)

    override def GetTableTypes(req: TGetTableTypesReq): TGetTableTypesResp =
      viaSession(req.getSessionHandle, new TGetTableTypesResp(_))(_.GetTableTypes(req))(
        _.getOperationHandle)

    override def GetColumns(req: TGetColumnsReq): TGetColumnsResp =
      viaSession(req.getSessionHandle, new TGetColumnsResp(_))(_.GetColumns(req))(
        _.getOperationHandle)

    override def GetFunctions(req: TGetFunctionsReq): TGetFunctionsResp =
      viaSession(req.getSessionHandle, new TGetFunctionsResp(_))(_.GetFunctions(req))(
        _.getOperationHandle)

    override def GetPrimaryKeys(req: TGetPrimaryKeysReq): TGetPrimaryKeysResp =
      viaSession(req.getSessionHandle, new TGetPrimaryKeysResp(_))(_.GetPrimaryKeys(req))(
        _.getOperationHandle)

    override def GetCrossReference(req: TGetCrossReferenceReq): TGetCrossReferenceResp =
      viaSession(req.getSessionHandle, new TGetCrossReferenceResp(_))(_.GetCrossReference(req))(
        _.getOperationHandle)

    override def GetOperationStatus(req: TGetOperationStatusReq): TGetOperationStatusResp =
      opConn(req.getOperationHandle) match {
        case None =>
          new TGetOperationStatusResp(errStatus("unknown operation"))
        case Some(conn) => forward(conn, new TGetOperationStatusResp(_))(_.GetOperationStatus(req))
      }

    override def CancelOperation(req: TCancelOperationReq): TCancelOperationResp =
      opConn(req.getOperationHandle) match {
        case None =>
          new TCancelOperationResp(errStatus("unknown operation"))
        case Some(conn) => forward(conn, new TCancelOperationResp(_))(_.CancelOperation(req))
      }

    override def CloseOperation(req: TCloseOperationReq): TCloseOperationResp =
      opConn(req.getOperationHandle) match {
        case None =>
          new TCloseOperationResp(errStatus("unknown operation"))
        case Some(conn) =>
          val resp = forward(conn, new TCloseOperationResp(_))(_.CloseOperation(req))
          opConns.remove(key(req.getOperationHandle.getOperationId))
          resp
      }

    override def GetResultSetMetadata(req: TGetResultSetMetadataReq): TGetResultSetMetadataResp =
      opConn(req.getOperationHandle) match {
        case None =>
          new TGetResultSetMetadataResp(errStatus("unknown operation"))
        case Some(conn) => forward(conn, new TGetResultSetMetadataResp(_))(_.GetResultSetMetadata(req))
      }

    override def FetchResults(req: TFetchResultsReq): TFetchResultsResp =
      opConn(req.getOperationHandle) match {
        case None =>
          new TFetchResultsResp(errStatus("unknown operation"))
        case Some(conn) => forward(conn, new TFetchResultsResp(_))(_.FetchResults(req))
      }

    override def GetQueryId(req: TGetQueryIdReq): TGetQueryIdResp =
      opConn(req.getOperationHandle) match {
        case None => new TGetQueryIdResp("")
        case Some(conn) => forward(conn, (_: TStatus) => new TGetQueryIdResp(""))(_.GetQueryId(req))
      }

    override def GetDelegationToken(req: TGetDelegationTokenReq): TGetDelegationTokenResp =
      new TGetDelegationTokenResp(errStatus("delegation tokens not supported"))
    override def CancelDelegationToken(req: TCancelDelegationTokenReq): TCancelDelegationTokenResp =
      new TCancelDelegationTokenResp(errStatus("delegation tokens not supported"))
    override def RenewDelegationToken(req: TRenewDelegationTokenReq): TRenewDelegationTokenResp =
      new TRenewDelegationTokenResp(errStatus("delegation tokens not supported"))
    override def SetClientInfo(req: TSetClientInfoReq): TSetClientInfoResp =
      sessionConn(req.getSessionHandle) match {
        case None => new TSetClientInfoResp(errStatus("unknown session"))
        case Some(conn) => forward(conn, new TSetClientInfoResp(_))(_.SetClientInfo(req))
      }
    override def UploadData(req: TUploadDataReq): TUploadDataResp =
      new TUploadDataResp(errStatus("UploadData not supported"), null)
    override def DownloadData(req: TDownloadDataReq): TDownloadDataResp =
      new TDownloadDataResp(errStatus("DownloadData not supported"), null)
  }

  // --- server lifecycle -----------------------------------------------------
  private val server = new BinaryThriftServer("graft-gateway", requestedPort,
    new TCLIService.Processor(iface), auth)
  val boundPort: Int = server.boundPort

  def start(): GatewayServer = {
    server.start()
    // Gateway HA: the server registers ITSELF in the same discovery
    // backend its engines use (reference
    // KyuubiTBinaryFrontendService.scala:47-48 creating a
    // KyuubiServiceDiscovery under the server namespace), so clients
    // resolve one of N gateways instead of hard-wiring a host:port.
    if (selfRegister)
      discovery.register(GatewayServer.Namespace, s"$advertisedHost:$boundPort")
    if (aliveProbeIntervalMs > 0) prober.start()
    this
  }

  /** Stop the frontend and every pooled engine JVM (unregistering this
    * gateway from discovery first, so clients stop resolving it).
    */
  def stop(): Unit = {
    prober.stop()
    if (selfRegister)
      try discovery.unregister(GatewayServer.Namespace) catch { case _: Throwable => }
    server.stop()
    sessionConns.values.forEach(c => try c.transport.close() catch { case _: Throwable => })
    sessionConns.clear()
    opConns.clear()
    pool.close()
  }
}

object GatewayServer {

  /** Discovery namespace gateway servers register themselves under —
    * sibling of the engines' `user/`/`group/`/`server/` spaces (the
    * reference's server namespace in kyuubi-ha's KyuubiServiceDiscovery).
    */
  val Namespace = "gateways"

  /** Stable string key for a session handle (the credentials manager's
    * session-epoch map key) — hex of the handle's guid.
    */
  def sessionKey(h: TSessionHandle): String =
    h.getSessionId.getGuid.map(b => f"$b%02x").mkString

  /** Client-side HA resolution: the address of the first registered
    * gateway that ACCEPTS a TCP connection. Backends without ephemeral
    * nodes (the file registry without TTL) can hold a crashed
    * gateway's stale node — the health probe skips it, the way the
    * reference client walks the ZK server list until a connect
    * succeeds. Returns None when no live gateway exists.
    */
  def resolveGateway(discovery: graft.core.DiscoveryClient,
      connectTimeoutMs: Int = 2000): Option[String] =
    discovery.getAll(Namespace).find { addr =>
      addr.split(":") match {
        case Array(host, port) =>
          val s = new java.net.Socket()
          try {
            s.connect(new java.net.InetSocketAddress(host, port.toInt), connectTimeoutMs)
            true
          } catch { case _: Throwable => false }
          finally { try s.close() catch { case _: Throwable => } }
        case _ => false
      }
    }
}
