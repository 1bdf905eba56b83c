package graft.server

import java.nio.ByteBuffer
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hive.service.rpc.thrift._
import org.apache.thrift.protocol.TProtocol
import org.apache.thrift.server.{ServerContext, TServerEventHandler}
import org.apache.thrift.transport.TTransport
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.ResultEncoders
import org.apache.spark.sql.types._

import graft.core._

/** HiveServer2-protocol (Thrift binary / JDBC) frontend over the graft
  * engine — the reference's primary wire entry point
  * (kyuubi-server/.../KyuubiTBinaryFrontendService.scala and the
  * engine's SparkTBinaryFrontendService). Speaks the TCLIService
  * contract from the hive-service-rpc classes Spark already ships, so
  * any HiveServer2 JDBC/beeline client connects with
  * `jdbc:hive2://host:port/;auth=noSasl`.
  *
  * Result sets are column-based `TColumn` pages (protocol V6+) with
  * null bitmasks; clients that negotiate below V6 (old Hive JDBC
  * drivers) get row-based `TRow`/`TColumnValue` pages instead
  * (reference kyuubi-common TRowSetGenerator.toRowBasedSet).
  * DECIMAL/DATE/TIMESTAMP/complex values travel as strings per the
  * HiveServer2 convention (the JDBC client re-parses them by column
  * type). Operation lifecycle maps 1:1 onto
  * [[graft.core.Operation]]: async execute + long-polled
  * GetOperationStatus, cancel via Spark job groups, fetch paging via
  * [[FetchIterator]] (NEXT/PRIOR/FIRST orientations).
  */
final class ThriftFrontend(engine: Engine, requestedPort: Int = 0,
    auth: Option[AuthenticationProvider] = None,
    // Users allowed to impersonate others via hive.server2.proxy.user
    // (reference KyuubiSessionManager proxy-privilege validation over
    // hadoop proxyuser rules; here an explicit allow-list — empty means
    // impersonation is off).
    proxyPrivileged: Set[String] = Set.empty,
    // Per-user live-connection cap (reference
    // kyuubi.server.limit.connections.per.user); 0 = unlimited.
    maxConnectionsPerUser: Int = 0,
    // The rest of the reference limiter family
    // (KyuubiConf.scala:3487-3529): per client IP, per user:IP pair,
    // plus the unlimited (bypass caps) and deny (reject always, beats
    // unlimited) user lists. Deny/unlimited hot-swap via `limiter`.
    maxConnectionsPerIp: Int = 0,
    maxConnectionsPerUserIp: Int = 0,
    unlimitedUsers: Set[String] = Set.empty,
    denyUsers: Set[String] = Set.empty,
    // Denied client IPs (reference SessionLimiter.scala:111-124) —
    // the operator's lever against a misbehaving HOST, not account.
    denyIps: Set[String] = Set.empty) {

  /** What one Thrift session settled at OpenSession. `admission` is the
    * limiter admission the open took (the keys ACTUALLY incremented),
    * released exactly once when the record goes. The limiter counts the
    * identity the transport PROVED, not the impersonated session user —
    * otherwise a proxy-privileged account could dodge its own quota by
    * spreading sessions across impersonation targets; keeping the
    * admission (not the user/ip pair) keeps release correct across
    * unlimited-list hot swaps mid-connection. `protocol` is the
    * negotiated version: clients below V6 (old Hive JDBC drivers) get
    * row-based TRowSets, not TColumn pages (reference
    * TRowSetGenerator.toRowBasedSet). `mode` comes from
    * operation.result.format / operation.result.max.rows, and
    * `timeoutCapMs` (0 = none) from operation.query.timeout.
    */
  private final class ThriftSession(val session: EngineSession,
      val admission: SessionLimiter.Admission, val protocol: TProtocolVersion,
      val mode: ResultMode, val timeoutCapMs: Long)

  // The sessions this frontend opened. Operations live in the engine's
  // registry; a handle resolves here only if its session has a record.
  private val sessions = new ConcurrentHashMap[String, ThriftSession]()

  /** The connection limiter — exposed so the admin surface can
    * hot-refresh its deny/unlimited lists without a restart.
    */
  val limiter: SessionLimiter = new SessionLimiter(
    userLimit = maxConnectionsPerUser, ipLimit = maxConnectionsPerIp,
    userIpLimit = maxConnectionsPerUserIp,
    initialUnlimitedUsers = unlimitedUsers, initialDenyUsers = denyUsers,
    initialDenyIps = denyIps)

  /** Drop a session's record and give back its limiter slot (once: only
    * the caller that removes the record releases).
    */
  private def forgetSession(sid: String): Unit =
    Option(sessions.remove(sid)).foreach(r => limiter.release(r.admission))

  // Forget a session the ENGINE closed (the idle reaper, or any other
  // engine-side close), so its slot is released and a reaped session
  // stops serving statements.
  private val sessionCloseListener: Events.Handler = new Events.Handler {
    override def onEvent(e: Events.Event): Unit = e match {
      case Events.SessionEvent(sid, _, "CLOSED", _) => forgetSession(sid)
      case _ => ()
    }
  }
  Events.register(sessionCloseListener)

  /** A live operation of one of this frontend's sessions, with the
    * session's record: REST handles and closed operations are unknown.
    */
  private def operation(h: TOperationHandle): Option[(ResultOperation, ThriftSession)] =
    engine.operation(idOf(h.getOperationId)).flatMap {
      case op: ResultOperation => Option(sessions.get(op.session.id)).map((op, _))
      case _ => None
    }

  private def noSuchOperation = new NoSuchElementException("no such operation")

  // --- handle plumbing ------------------------------------------------------
  private def handleId(id: String): THandleIdentifier = {
    val u = UUID.fromString(id)
    val guid = ByteBuffer.allocate(16)
    guid.putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
    guid.flip()
    new THandleIdentifier(guid, ByteBuffer.allocate(16))
  }
  private def idOf(h: THandleIdentifier): String = {
    val bb = ByteBuffer.wrap(h.getGuid)
    new UUID(bb.getLong, bb.getLong).toString
  }
  private def ok: TStatus = new TStatus(TStatusCode.SUCCESS_STATUS)
  private def err(e: Throwable): TStatus = {
    val st = new TStatus(TStatusCode.ERROR_STATUS)
    st.setErrorMessage(String.valueOf(e.getMessage))
    st.setSqlState("42000")
    st
  }

  // --- Hive JDBC search-pattern translation ---------------------------------
  /** HiveServer2 metadata patterns: '%' = any string, '_' = any single
    * char, backslash escapes both (reference:
    * MetadataOperation.convertSchemaPattern). Spark's catalog APIs only
    * understand '*' globs, so the walk is pruned with a widened glob
    * (every wildcard → '*', an upper bound) and rows are then re-filtered
    * with the exact anchored regex.
    */
  private[server] def hivePattern(p: String): (String, String) = {
    val glob = new StringBuilder
    val regex = new StringBuilder("^")
    var i = 0
    while (i < p.length) {
      p.charAt(i) match {
        case '\\' if i + 1 < p.length =>
          val c = p.charAt(i + 1)
          glob.append(c)
          regex.append(java.util.regex.Pattern.quote(c.toString))
          i += 1
        case '%' | '*' => glob.append('*'); regex.append(".*")
        case '_' => glob.append('*'); regex.append('.')
        case c =>
          glob.append(c)
          regex.append(java.util.regex.Pattern.quote(c.toString))
      }
      i += 1
    }
    regex.append('$')
    // '|' separates alternatives in Spark's filterPattern — a literal one
    // would silently change glob semantics, so widen to match-all and let
    // the regex do the work.
    val g = if (glob.toString.contains("|")) "*" else glob.toString
    (g, regex.toString)
  }

  private def rlikeFilter(df: DataFrame, colName: String, regex: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // null-safe: temp views surface a null schema, which must still
    // match a match-all pattern
    df.filter(coalesce(col(colName), lit("")).rlike(regex))
  }

  private def opHandle(id: String, hasResult: Boolean): TOperationHandle =
    new TOperationHandle(handleId(id), TOperationType.EXECUTE_STATEMENT, hasResult)

  // --- type mapping ---------------------------------------------------------
  private def typeId(dt: DataType): TTypeId = dt match {
    case BooleanType => TTypeId.BOOLEAN_TYPE
    case ByteType => TTypeId.TINYINT_TYPE
    case ShortType => TTypeId.SMALLINT_TYPE
    case IntegerType => TTypeId.INT_TYPE
    case LongType => TTypeId.BIGINT_TYPE
    case FloatType => TTypeId.FLOAT_TYPE
    case DoubleType => TTypeId.DOUBLE_TYPE
    case _: DecimalType => TTypeId.DECIMAL_TYPE
    case DateType => TTypeId.DATE_TYPE
    case TimestampType | TimestampNTZType => TTypeId.TIMESTAMP_TYPE
    case BinaryType => TTypeId.BINARY_TYPE
    case _: ArrayType => TTypeId.ARRAY_TYPE
    case _: MapType => TTypeId.MAP_TYPE
    case _: StructType => TTypeId.STRUCT_TYPE
    case NullType => TTypeId.NULL_TYPE
    case _ => TTypeId.STRING_TYPE
  }

  private def tableSchema(schema: StructType): TTableSchema = {
    // columns is a required thrift field: initialize it so a zero-column
    // schema (USE/SET-style statements) still serializes
    val ts = new TTableSchema(new java.util.ArrayList[TColumnDesc]())
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      val entry = new TPrimitiveTypeEntry(typeId(f.dataType))
      f.dataType match {
        case d: DecimalType =>
          val q = new TTypeQualifiers()
          q.setQualifiers(Map(
            TCLIServiceConstants.PRECISION ->
              TTypeQualifierValue.i32Value(d.precision),
            TCLIServiceConstants.CHARACTER_MAXIMUM_LENGTH ->
              TTypeQualifierValue.i32Value(d.precision),
            TCLIServiceConstants.SCALE -> TTypeQualifierValue.i32Value(d.scale)).asJava)
          entry.setTypeQualifiers(q)
        case _ =>
      }
      val td = new TTypeDesc()
      td.addToTypes(TTypeEntry.primitiveEntry(entry))
      val cd = new TColumnDesc(f.name, td, i + 1)
      ts.addToColumns(cd)
    }
    ts
  }

  // --- row-set encoding (column-based, V6+) ---------------------------------
  private def nullMask(nulls: Array[Boolean]): ByteBuffer = {
    val bytes = new Array[Byte]((nulls.length + 7) / 8 max 1)
    nulls.zipWithIndex.foreach { case (n, i) =>
      if (n) bytes(i / 8) = (bytes(i / 8) | (1 << (i % 8))).toByte
    }
    ByteBuffer.wrap(bytes)
  }

  private def column(dt: DataType, vals: Seq[Any], text: ResultEncoders.Text): TColumn = {
    val mask = nullMask(vals.map(_ == null).toArray)
    dt match {
      case BooleanType => TColumn.boolVal(new TBoolColumn(
        vals.map(v => java.lang.Boolean.valueOf(v != null && v.asInstanceOf[Boolean])).asJava, mask))
      case ByteType => TColumn.byteVal(new TByteColumn(
        vals.map(v => java.lang.Byte.valueOf(if (v == null) 0.toByte else v.asInstanceOf[Byte])).asJava, mask))
      case ShortType => TColumn.i16Val(new TI16Column(
        vals.map(v => java.lang.Short.valueOf(if (v == null) 0.toShort else v.asInstanceOf[Short])).asJava, mask))
      case IntegerType => TColumn.i32Val(new TI32Column(
        vals.map(v => java.lang.Integer.valueOf(if (v == null) 0 else v.asInstanceOf[Int])).asJava, mask))
      case LongType => TColumn.i64Val(new TI64Column(
        vals.map(v => java.lang.Long.valueOf(if (v == null) 0L else v.asInstanceOf[Long])).asJava, mask))
      case FloatType => TColumn.doubleVal(new TDoubleColumn(
        vals.map(v => java.lang.Double.valueOf(if (v == null) 0.0 else v.asInstanceOf[Float].toDouble)).asJava, mask))
      case DoubleType => TColumn.doubleVal(new TDoubleColumn(
        vals.map(v => java.lang.Double.valueOf(if (v == null) 0.0 else v.asInstanceOf[Double])).asJava, mask))
      case BinaryType => TColumn.binaryVal(new TBinaryColumn(
        vals.map(v => ByteBuffer.wrap(if (v == null) Array.empty[Byte]
          else v.asInstanceOf[Array[Byte]])).asJava, mask))
      case _ =>
        // DECIMAL / DATE / TIMESTAMP / STRING / complex types:
        // HiveServer2 string convention (the JDBC client parses DATE
        // from "yyyy-MM-dd", not from an epoch int)
        TColumn.stringVal(new TStringColumn(
          vals.map(v => if (v == null) "" else text(v, dt)).asJava, mask))
    }
  }

  // Row-based wire value (protocol < V6). Row mode has no binary value
  // type, so BINARY — like DECIMAL/DATE/TIMESTAMP/complex — travels as
  // a string, matching old-driver HiveServer2 behavior. Nulls are
  // values with the optional field unset.
  private def columnValue(dt: DataType, v: Any, text: ResultEncoders.Text): TColumnValue = dt match {
    case BooleanType =>
      val x = new TBoolValue(); if (v != null) x.setValue(v.asInstanceOf[Boolean])
      TColumnValue.boolVal(x)
    case ByteType =>
      val x = new TByteValue(); if (v != null) x.setValue(v.asInstanceOf[Byte])
      TColumnValue.byteVal(x)
    case ShortType =>
      val x = new TI16Value(); if (v != null) x.setValue(v.asInstanceOf[Short])
      TColumnValue.i16Val(x)
    case IntegerType =>
      val x = new TI32Value(); if (v != null) x.setValue(v.asInstanceOf[Int])
      TColumnValue.i32Val(x)
    case LongType =>
      val x = new TI64Value(); if (v != null) x.setValue(v.asInstanceOf[Long])
      TColumnValue.i64Val(x)
    case FloatType =>
      val x = new TDoubleValue(); if (v != null) x.setValue(v.asInstanceOf[Float].toDouble)
      TColumnValue.doubleVal(x)
    case DoubleType =>
      val x = new TDoubleValue(); if (v != null) x.setValue(v.asInstanceOf[Double])
      TColumnValue.doubleVal(x)
    case _ =>
      val x = new TStringValue(); if (v != null) x.setValue(text(v, dt))
      TColumnValue.stringVal(x)
  }

  /** One result page: column-based (V6+) or, for older clients,
    * row-based (reference TRowSetGenerator.toRowBasedSet).
    */
  private def rowSet(schema: StructType, rows: Seq[Row], rec: ThriftSession): TRowSet = {
    val text = new ResultEncoders.Text(rec.session.spark)
    if (rec.protocol.getValue < TProtocolVersion.HIVE_CLI_SERVICE_PROTOCOL_V6.getValue) {
      val trows = new java.util.ArrayList[TRow](rows.length)
      rows.foreach { r =>
        val tr = new TRow()
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          tr.addToColVals(columnValue(f.dataType, r.get(i), text))
        }
        trows.add(tr)
      }
      return new TRowSet(0, trows)
    }
    val rs = new TRowSet(0, new java.util.ArrayList[TRow]())
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      rs.addToColumns(column(f.dataType, rows.map(r => r.get(i)), text))
    }
    rs
  }

  // --- the TCLIService implementation ---------------------------------------
  private val iface: TCLIService.Iface = new TCLIService.Iface {

    override def OpenSession(req: TOpenSessionReq): TOpenSessionResp = {
      val resp = new TOpenSessionResp()
      // set once the limiter slot is taken (and once the engine session
      // opens) until the session's record owns them — a failure in
      // between must give both back
      var unownedSlot: Option[SessionLimiter.Admission] = None
      var unownedSession: Option[EngineSession] = None
      try {
        // With SASL, the identity the transport PROVED wins over the
        // request body's username (reference KyuubiTBinaryFrontendService
        // getUserName: SASL authorization id first).
        val realUser = PlainSasl.authenticatedUser
          .orElse(Option(req.getUsername).filter(_.nonEmpty))
          .getOrElse("anonymous")
        // Connection limits on the PROVED identity + the socket's
        // remote address (reference SessionLimiter over
        // kyuubi.server.limit.connections.{per.user, per.ipaddress,
        // per.user.ipaddress} + unlimited/deny lists): the (N+1)th
        // concurrent open — or any open by a denied user — is rejected
        // before any engine work, atomically (increment-then-check).
        val clientIp = ClientIp.current.getOrElse("")
        val admission = limiter.increment(realUser, clientIp)
        unownedSlot = Some(admission)
        // Client conf in arrival order, then SessionConfAdvisor
        // overlays (overwrite-in-place, new keys append — reference
        // KyuubiSession applies kyuubi.session.conf.advisor overlays
        // over the client conf before any of it takes effect).
        val clientConf = scala.collection.mutable.LinkedHashMap.empty[String, String]
        Option(req.getConfiguration).foreach(_.forEach { (k, v) => clientConf.put(k, v) })
        // Drop client-asserted graft.server.* BEFORE the advisor
        // overlay merges back in: advisedConf strips them from the map
        // it returns, but a put-only merge into the raw client map
        // would resurrect a self-asserted graft.server.session.group
        // and ConfGroupProvider would treat it as server-pinned.
        clientConf.filterInPlace { case (k, _) => !Engine.isReservedClientKey(k) }
        // Impersonation (Hive JDBC forwards the ;hive.server2.proxy.user
        // session var into the open-request conf verbatim — reference
        // KyuubiSessionManager getProxyUser): the SESSION user becomes the
        // proxy target, so authz policies, session_user() and events all
        // see the impersonated identity — but only accounts on the
        // explicit proxy-privilege allow-list may switch.
        val proxyTarget = clientConf.collectFirst {
          case (k, v)
            if k.stripPrefix("set:hiveconf:").stripPrefix("set:hivevar:") ==
              "hive.server2.proxy.user" && v != null && v.nonEmpty => v
        }
        val user = proxyTarget match {
          case Some(p) if p != realUser && !proxyPrivileged.contains(realUser) =>
            throw new SecurityException(
              s"user [$realUser] is not allowed to impersonate [$p]")
          case Some(p) => p
          case None => realUser
        }
        // The advisor runs for the EFFECTIVE (session) user — its
        // overlays are per-tenant policy, and the tenant here is the
        // impersonated identity (reference: advisor sees session user).
        engine.advisedConf(user, clientConf.toMap).foreach { case (k, v) =>
          if (!clientConf.get(k).contains(v)) clientConf.put(k, v)
        }
        val sess = engine.openSession(user, clientConf.toMap)
        unownedSession = Some(sess)
        // Impersonation leaves an audit trail: the session's OPENED
        // event carries the proxy TARGET, this one records WHO invoked
        // the privilege (reference audit logging of real vs session user).
        if (user != realUser)
          Events.post(Events.SessionEvent(
            sess.id, realUser, "IMPERSONATED", System.currentTimeMillis()))
        // Apply the session configuration (the Hive JDBC URL's
        // /db, ?conf and #var segments arrive here as use:database,
        // set:hiveconf:* and set:hivevar:* — reference
        // SparkSQLSessionManager.openSession conf processing).
        var arrow = false
        var maxRows = 0
        var timeoutCapMs = 0L
        clientConf.foreach { case (k, v) =>
          val key = k.stripPrefix("set:hiveconf:").stripPrefix("set:hivevar:")
          if (k == "use:database") {
            // A bad database name must FAIL the connection (stock
            // HiveServer2 semantics) — silently staying on 'default'
            // would serve wrong-table results to every later query.
            if (v != null && v.nonEmpty && v != "default") {
              // escape backticks: a name like ev`il must parse as one
              // identifier, not inject past the quoting
              try sess.spark.sql(s"USE `${v.replace("`", "``")}`")
              catch { case e: Throwable =>
                throw new IllegalArgumentException(s"database '$v' not found", e)
              }
            }
          } else {
            try {
              if (key.endsWith("operation.result.format")) {
                // arrow result pages (reference ArrowBasedExecuteStatement,
                // selected by kyuubi.operation.result.format=arrow)
                if ("arrow".equalsIgnoreCase(v)) arrow = true
              } else if (key.endsWith("operation.result.max.rows")) {
                // bounded collect (ref kyuubi.operation.result.max.rows)
                val n = v.toInt
                if (n > 0) maxRows = n
              } else if (key.endsWith("operation.query.timeout")) {
                // server-side query timeout cap in ms (reference
                // kyuubi.operation.query.timeout, checkValue >= 1s):
                // caps the client's Statement.setQueryTimeout, or arms
                // the timeout alone when the client sends none
                val ms = v.toLong
                if (ms >= 1000L) timeoutCapMs = ms
              } else if (key.endsWith("operation.scheduler.pool")) {
                // per-operation FAIR scheduler pool (reference
                // kyuubi.operation.scheduler.pool): stored in session
                // conf; Operation.withJobGroup applies it as the
                // spark.scheduler.pool local property per statement
                sess.spark.conf.set("spark.graft.operation.scheduler.pool", v)
              } else if (key.startsWith("spark.graft.authz.")) {
                // server-only identity namespace: Engine.openSession
                // publishes user/groups there for ApplyAuthzPolicies,
                // so a client write would be self-asserted identity
                () // dropped (in-session SET is blocked by the rule too)
              } else if (key.startsWith("spark.")) {
                sess.spark.conf.set(key, v)
              }
            } catch { case _: Throwable => } // bad conf must not kill the session
          }
        }
        val negotiated =
          if (req.getClient_protocol == null) TProtocolVersion.HIVE_CLI_SERVICE_PROTOCOL_V10
          else if (req.getClient_protocol.getValue <= TProtocolVersion.HIVE_CLI_SERVICE_PROTOCOL_V10.getValue)
            req.getClient_protocol
          else TProtocolVersion.HIVE_CLI_SERVICE_PROTOCOL_V10
        val mode =
          if (arrow) ResultMode.Arrow()
          else if (maxRows > 0) ResultMode.Bounded(maxRows)
          else ResultMode.Full
        sessions.put(sess.id, new ThriftSession(sess, admission, negotiated, mode, timeoutCapMs))
        // the close/reap paths release both from here on
        unownedSlot = None
        unownedSession = None
        resp.setServerProtocolVersion(negotiated)
        resp.setSessionHandle(new TSessionHandle(handleId(sess.id)))
        resp.setConfiguration(Map.empty[String, String].asJava)
        resp.setStatus(ok)
      } catch { case e: Throwable =>
        // give back what no session record came to own
        unownedSession.foreach(s => engine.closeSession(s.id))
        unownedSlot.foreach(limiter.release)
        resp.setStatus(err(e))
      }
      resp
    }

    override def CloseSession(req: TCloseSessionReq): TCloseSessionResp = {
      try {
        val id = idOf(req.getSessionHandle.getSessionId)
        forgetSession(id)
        engine.closeSession(id)
        new TCloseSessionResp(ok)
      } catch { case e: Throwable =>
        e.printStackTrace()
        new TCloseSessionResp(err(e))
      }
    }

    override def GetInfo(req: TGetInfoReq): TGetInfoResp = {
      val v = req.getInfoType match {
        case TGetInfoType.CLI_SERVER_NAME | TGetInfoType.CLI_DBMS_NAME =>
          TGetInfoValue.stringValue("graft")
        case TGetInfoType.CLI_DBMS_VER => TGetInfoValue.stringValue(Kdf.version)
        case TGetInfoType.CLI_MAX_COLUMN_NAME_LEN => TGetInfoValue.lenValue(128)
        case _ => TGetInfoValue.stringValue("")
      }
      val resp = new TGetInfoResp(ok, v)
      resp
    }

    override def ExecuteStatement(req: TExecuteStatementReq): TExecuteStatementResp = {
      val resp = new TExecuteStatementResp()
      try {
        val rec = sessionOf(req.getSessionHandle)
        // Query timeout (HIVE-4924 Statement.setQueryTimeout, seconds on
        // the wire) combined with the server-side cap the reference way
        // (KyuubiOperationManager.getQueryTimeout): min of the two when
        // both are set, the cap alone when the client sends none, and a
        // timed-out op lands in TIMEOUT (cancelled job group).
        val clientTimeoutMs = math.max(0L, req.getQueryTimeout) * 1000L
        val cap = rec.timeoutCapMs
        val timeoutMs =
          if (cap > 0 && clientTimeoutMs > 0) math.min(cap, clientTimeoutMs)
          else math.max(cap, clientTimeoutMs)
        val op = rec.session.executeStatement(req.getStatement, rec.mode, timeoutMs)
        // Async clients get the handle immediately and discover
        // completion/errors via GetOperationStatus polling; only the
        // sync path blocks the worker thread (matches the reference's
        // runAsync contract in ExecuteStatement).
        if (!req.isRunAsync) {
          op.awaitTermination()
          op.exception.foreach(throw _)
        }
        // Async: the statement hasn't compiled yet, so the schema is
        // unknown — advertise a result set and let GetResultSetMetadata /
        // FetchResults (which both await termination) sort it out.
        resp.setOperationHandle(opHandle(op.handle,
          hasResult = req.isRunAsync || op.resultSchema.nonEmpty))
        resp.setStatus(ok)
      } catch { case e: Throwable => resp.setStatus(err(e)) }
      resp
    }

    override def GetOperationStatus(req: TGetOperationStatusReq): TGetOperationStatusResp = {
      val resp = new TGetOperationStatusResp()
      val (op, rec) = operation(req.getOperationHandle) match {
        case Some(found) => found
        case None => resp.setStatus(err(noSuchOperation)); return resp
      }
      // Long poll (HiveServer2's hive.server2.long.polling.timeout,
      // Kyuubi's kyuubi.operation.status.polling.timeout): hold the call
      // until the operation is terminal or Operation.StatusWaitMs
      // passes. hive-jdbc polls with no pause, trusting the server to
      // hold; answering at once turns every statement into a spin of
      // status round trips on both ends of the socket.
      val state = op.awaitTerminal()
      // Status polling is client activity: without this, a statement
      // running longer than the idle timeout finishes and is then
      // reaped before its first FetchResults (reference touches the
      // session on every access).
      op.session.touch()
      val st = state match {
        case OperationState.Initialized => TOperationState.INITIALIZED_STATE
        case OperationState.Pending => TOperationState.PENDING_STATE
        case OperationState.Running | OperationState.Compiled => TOperationState.RUNNING_STATE
        case OperationState.Finished => TOperationState.FINISHED_STATE
        case OperationState.Canceled => TOperationState.CANCELED_STATE
        case OperationState.Closed => TOperationState.CLOSED_STATE
        case OperationState.Error => TOperationState.ERROR_STATE
        case OperationState.Timeout =>
          // Clients below HIVE-4924 (protocol <= V8, Hive < 2.1) have no
          // TIMEDOUT status and would poll forever — report CANCELED to
          // them (reference AbstractOperation.addTimeoutMonitor).
          if (rec.protocol.getValue <= TProtocolVersion.HIVE_CLI_SERVICE_PROTOCOL_V8.getValue)
            TOperationState.CANCELED_STATE
          else TOperationState.TIMEDOUT_STATE
      }
      resp.setOperationState(st)
      op.exception.foreach { e =>
        resp.setErrorMessage(String.valueOf(e.getMessage))
        resp.setSqlState("42000")
      }
      // In-place progress (beeline's progress bar): stage-level task
      // counts for this operation's job group from the status tracker.
      // Best-effort: a tracker failure (e.g. context stopping) must
      // degrade to a response without progress, not kill the connection.
      if (req.isGetProgressUpdate) try {
        val tracker = op.session.spark.sparkContext.statusTracker
        val stages = tracker.getJobIdsForGroup(op.jobGroup).toSeq
          .flatMap(id => tracker.getJobInfo(id).toSeq.flatMap(_.stageIds().toSeq))
          .distinct.flatMap(sid => tracker.getStageInfo(sid).toSeq)
        val total = stages.map(_.numTasks).sum
        val done = stages.map(_.numCompletedTasks).sum
        val prog = new TProgressUpdateResp()
        prog.setHeaderNames(Seq("STAGE", "TASKS", "COMPLETED", "ACTIVE").asJava)
        prog.setRows(stages.map(s => Seq(s.stageId.toString, s.numTasks.toString,
          s.numCompletedTasks.toString, s.numActiveTasks.toString).asJava).asJava)
        prog.setProgressedPercentage(
          if (state.terminal) 1.0
          else if (total > 0) done.toDouble / total else 0.0)
        prog.setStatus(
          if (state.terminal) TJobExecutionStatus.COMPLETE
          else TJobExecutionStatus.IN_PROGRESS)
        prog.setFooterSummary("")
        prog.setStartTime(0L)
        resp.setProgressUpdateResponse(prog)
      } catch { case _: Throwable => }
      resp.setStatus(ok)
      resp
    }

    override def CancelOperation(req: TCancelOperationReq): TCancelOperationResp = {
      operation(req.getOperationHandle).foreach { case (op, _) =>
        op.session.touch() // cancel is session activity for the idle reaper
        op.cancel()
      }
      new TCancelOperationResp(ok)
    }

    override def CloseOperation(req: TCloseOperationReq): TCloseOperationResp = {
      operation(req.getOperationHandle).foreach(_._1.close())
      new TCloseOperationResp(ok)
    }

    override def GetResultSetMetadata(req: TGetResultSetMetadataReq): TGetResultSetMetadataResp = {
      val resp = new TGetResultSetMetadataResp()
      try {
        val (op, _) = operation(req.getOperationHandle).getOrElse(throw noSuchOperation)
        op.awaitTermination()
        resp.setSchema(tableSchema(op.resultSchema))
        resp.setStatus(ok)
      } catch { case e: Throwable => resp.setStatus(err(e)) }
      resp
    }

    override def FetchResults(req: TFetchResultsReq): TFetchResultsResp = {
      val resp = new TFetchResultsResp()
      try {
        val (op, rec) = operation(req.getOperationHandle).getOrElse(throw noSuchOperation)
        op.session.touch() // paging is session activity for the idle reaper
        // fetchType 1 = operation LOG (HiveServer2 convention): a
        // single-string-column page of pending log lines, available
        // WHILE the op runs — no awaitTermination.
        if (req.getFetchType == 1) {
          val max = math.max(1L, math.min(req.getMaxRows, 10000L)).toInt
          val lines = op.fetchLog(max)
          val logSchema = StructType(Seq(StructField("operation_log", StringType)))
          resp.setResults(rowSet(logSchema, lines.map(Row(_)), rec))
          resp.setHasMoreRows(false)
          resp.setStatus(ok)
          return resp
        }
        op.awaitTermination()
        op.exception.foreach(throw _)
        // Clamp before narrowing: Long.MaxValue ("all rows") must not
        // overflow toInt into a 1-row-per-round-trip fetch.
        val max = math.max(1L, math.min(req.getMaxRows, Int.MaxValue.toLong)).toInt
        val orientation = req.getOrientation match {
          case TFetchOrientation.FETCH_FIRST => FetchOrientation.First
          case TFetchOrientation.FETCH_PRIOR => FetchOrientation.Prior
          case _ => FetchOrientation.Next
        }
        op match {
          // Arrow result pages: one binary column whose values are
          // IPC-serialized record batches (maxRows counts batches); the
          // schema stays available via GetResultSetMetadata for decoding.
          case es: ExecuteStatement if es.arrowIterator != null =>
            val page = es.arrowIterator.fetch(orientation, max)
            val rs = new TRowSet(0, new java.util.ArrayList[TRow]())
            rs.addToColumns(TColumn.binaryVal(new TBinaryColumn(
              page.map(ByteBuffer.wrap(_)).asJava,
              ByteBuffer.wrap(Array.fill((page.length + 7) / 8)(0.toByte)))))
            resp.setResults(rs)
            resp.setHasMoreRows(es.arrowIterator.hasNext)
          case _ =>
            val page = op.fetchIterator.fetch(orientation, max)
            resp.setResults(rowSet(op.resultSchema, page, rec))
            resp.setHasMoreRows(op.fetchIterator.hasNext)
        }
        resp.setStatus(ok)
      } catch { case e: Throwable => resp.setStatus(err(e)) }
      resp
    }

    // --- metadata operations ------------------------------------------------
    private def sessionOf(h: TSessionHandle): ThriftSession = {
      val s = sessions.get(idOf(h.getSessionId))
      require(s != null, "no such session")
      s
    }

    /** Answer a metadata request: `build` runs as a core
      * DataFrameOperation on the session, and the reply carries its
      * handle, or the failure.
      */
    private def metadataOp(setStatus: TStatus => Any, setHandle: TOperationHandle => Any,
        h: TSessionHandle)(build: => SparkSession => DataFrame): Unit =
      try {
        val op = sessionOf(h).session.executeMetadata(build)
        op.awaitTermination()
        setHandle(opHandle(op.handle, hasResult = true))
        setStatus(ok)
      } catch { case e: Throwable => setStatus(err(e)) }

    override def GetCatalogs(req: TGetCatalogsReq): TGetCatalogsResp = {
      val resp = new TGetCatalogsResp()
      metadataOp(resp.setStatus, resp.setOperationHandle, req.getSessionHandle)(MetadataOps.getCatalogs)
      resp
    }

    override def GetSchemas(req: TGetSchemasReq): TGetSchemasResp = {
      val resp = new TGetSchemasResp()
      metadataOp(resp.setStatus, resp.setOperationHandle, req.getSessionHandle) {
        val (glob, regex) = hivePattern(
          Option(req.getSchemaName).filter(_.nonEmpty).getOrElse("%"))
        s => rlikeFilter(MetadataOps.getSchemas(s, glob), "TABLE_SCHEM", regex)
      }
      resp
    }

    override def GetTables(req: TGetTablesReq): TGetTablesResp = {
      val resp = new TGetTablesResp()
      metadataOp(resp.setStatus, resp.setOperationHandle, req.getSessionHandle) {
        val (dbGlob, dbRegex) = hivePattern(
          Option(req.getSchemaName).filter(_.nonEmpty).getOrElse("%"))
        val (tblGlob, tblRegex) = hivePattern(
          Option(req.getTableName).filter(_.nonEmpty).getOrElse("%"))
        s => rlikeFilter(rlikeFilter(MetadataOps.getTables(s, dbGlob, tblGlob),
          "TABLE_SCHEM", dbRegex), "TABLE_NAME", tblRegex)
      }
      resp
    }

    override def GetTableTypes(req: TGetTableTypesReq): TGetTableTypesResp = {
      val resp = new TGetTableTypesResp()
      metadataOp(resp.setStatus, resp.setOperationHandle, req.getSessionHandle)(MetadataOps.getTableTypes)
      resp
    }

    override def GetColumns(req: TGetColumnsReq): TGetColumnsResp = {
      val resp = new TGetColumnsResp()
      metadataOp(resp.setStatus, resp.setOperationHandle, req.getSessionHandle) {
        // getColumns resolves an exact table; JDBC clients send the name
        // they got from GetTables. A wildcard pattern walks the matching
        // tables of the current database and unions their columns.
        val tblArg = Option(req.getTableName).filter(_.nonEmpty).getOrElse("%")
        val (glob, regex) = hivePattern(tblArg)
        if (!tblArg.exists(c => c == '%' || c == '_' || c == '*')) {
          MetadataOps.getColumns(_, tblArg.replace("\\", ""))
        } else { s =>
          val names = rlikeFilter(
            MetadataOps.getTables(s, "*", glob), "TABLE_NAME", regex)
            .select("TABLE_SCHEM", "TABLE_NAME").collect()
          names.map { r =>
            // temp views have no schema: resolve by bare name
            val qualified = Option(r.getString(0)).filter(_.nonEmpty)
              .map(db => s"$db.${r.getString(1)}").getOrElse(r.getString(1))
            MetadataOps.getColumns(s, qualified)
          }
            .reduceOption(_ unionAll _)
            .getOrElse(MetadataOps.noColumns(s))
        }
      }
      resp
    }

    override def GetFunctions(req: TGetFunctionsReq): TGetFunctionsResp = {
      val resp = new TGetFunctionsResp()
      metadataOp(resp.setStatus, resp.setOperationHandle, req.getSessionHandle) {
        val (glob, regex) = hivePattern(
          Option(req.getFunctionName).filter(_.nonEmpty).getOrElse("%"))
        s => rlikeFilter(MetadataOps.getFunctions(s, glob), "FUNCTION_NAME", regex)
      }
      resp
    }

    override def GetTypeInfo(req: TGetTypeInfoReq): TGetTypeInfoResp = {
      val resp = new TGetTypeInfoResp()
      metadataOp(resp.setStatus, resp.setOperationHandle, req.getSessionHandle)(MetadataOps.getTypeInfo)
      resp
    }

    override def GetPrimaryKeys(req: TGetPrimaryKeysReq): TGetPrimaryKeysResp = {
      val resp = new TGetPrimaryKeysResp()
      def s(v: String) = Option(v).getOrElse("")
      metadataOp(resp.setStatus, resp.setOperationHandle, req.getSessionHandle)(
        MetadataOps.getPrimaryKeys(_, s(req.getCatalogName), s(req.getSchemaName),
          s(req.getTableName)))
      resp
    }

    override def GetCrossReference(req: TGetCrossReferenceReq): TGetCrossReferenceResp = {
      val resp = new TGetCrossReferenceResp()
      def s(v: String) = Option(v).getOrElse("")
      metadataOp(resp.setStatus, resp.setOperationHandle, req.getSessionHandle)(
        MetadataOps.getCrossReference(_,
          s(req.getParentCatalogName), s(req.getParentSchemaName), s(req.getParentTableName),
          s(req.getForeignCatalogName), s(req.getForeignSchemaName), s(req.getForeignTableName)))
      resp
    }

    override def GetQueryId(req: TGetQueryIdReq): TGetQueryIdResp =
      new TGetQueryIdResp(idOf(req.getOperationHandle.getOperationId))

    override def GetDelegationToken(req: TGetDelegationTokenReq): TGetDelegationTokenResp =
      new TGetDelegationTokenResp(err(new UnsupportedOperationException("delegation tokens unsupported")))
    override def CancelDelegationToken(req: TCancelDelegationTokenReq): TCancelDelegationTokenResp =
      new TCancelDelegationTokenResp(err(new UnsupportedOperationException("delegation tokens unsupported")))
    /** Engine-side credential receiver (reference
      * SparkTBinaryFrontendService.RenewDelegationToken decodes the
      * pushed Hadoop credentials and updates the process tokens): the
      * gateway's sendCredentialsIfNeeded delivers a renewed
      * [[TokenBundle]] here, and the engine's live store replaces its
      * launch-time tokens — what closes the renewal loop for
      * long-lived engines. Requires a live session; a malformed bundle
      * is an error (the gateway's session epoch then stays unadvanced
      * and the push retries on the next statement).
      */
    override def RenewDelegationToken(req: TRenewDelegationTokenReq): TRenewDelegationTokenResp =
      try {
        sessionOf(req.getSessionHandle)
        val bundle = TokenBundle.decode(req.getDelegationToken)
        val b64 = java.util.Base64.getEncoder
        engine.updateCredentials(bundle.aliases.toSeq.map { a =>
          a -> b64.encodeToString(bundle.get(a).get)
        }.toMap)
        new TRenewDelegationTokenResp(ok)
      } catch { case e: Throwable => new TRenewDelegationTokenResp(err(e)) }
    override def SetClientInfo(req: TSetClientInfoReq): TSetClientInfoResp =
      new TSetClientInfoResp(ok)
    override def UploadData(req: TUploadDataReq): TUploadDataResp =
      new TUploadDataResp(err(new UnsupportedOperationException("UploadData unsupported")), null)
    override def DownloadData(req: TDownloadDataReq): TDownloadDataResp =
      new TDownloadDataResp(err(new UnsupportedOperationException("DownloadData unsupported")), null)
  }

  /** The TCLIService processor over this frontend's session state —
    * shared with [[ThriftHttpFrontend]], which serves the same engine
    * over the HTTP transport (processors are stateless wrappers; the
    * iface is already called concurrently by the thread-pool server).
    */
  private[server] def processor: TCLIService.Processor[_] =
    new TCLIService.Processor(iface)

  // --- server lifecycle -----------------------------------------------------
  // auth=None keeps the historical noSasl wire; a provider switches the
  // whole socket to SASL PLAIN. Each connection's remote address is
  // captured on its worker thread before requests are processed (Hive's
  // TSetIpAddressProcessor pattern) — it feeds the per-IP / per-user:IP
  // connection limits.
  private val server = new BinaryThriftServer("graft-thrift", requestedPort, processor, auth,
    Some(new TServerEventHandler {
      override def preServe(): Unit = ()
      override def createContext(in: TProtocol, out: TProtocol): ServerContext = null
      override def deleteContext(ctx: ServerContext, in: TProtocol, out: TProtocol): Unit = ClientIp.clear()
      override def processContext(ctx: ServerContext, in: TTransport, out: TTransport): Unit =
        ClientIp.set(ClientIp.remoteIp(in))
    }))
  val boundPort: Int = server.boundPort

  def start(): ThriftFrontend = { server.start(); this }

  def stop(): Unit = {
    server.stop()
    Events.unregister(sessionCloseListener)
  }
}
