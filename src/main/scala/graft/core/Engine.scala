package graft.core

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executor, LinkedBlockingQueue, RejectedExecutionException,
  ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.internal.SQLConf

/** Engine share levels controlling SparkSession reuse across gateway
  * sessions (ref kyuubi-common/.../engine/ShareLevel.scala:23-46):
  * CONNECTION = one engine per session; USER = per user; GROUP = per
  * group; SERVER = one engine for everyone.
  */
sealed trait ShareLevel
object ShareLevel {
  case object Connection extends ShareLevel
  case object User extends ShareLevel
  case object Group extends ShareLevel
  case object Server extends ShareLevel
}

/** One gateway session: an isolated `SparkSession` clone (separate
  * SQLConf / temp views / UDFs over a shared SparkContext — ref
  * SparkSQLSessionManager.scala:108-120), plus its live operations.
  * Only [[Engine.openSession]] makes one: `registry` is the engine's
  * handle index, which an operation enters in `start` and leaves in
  * [[Operation.close]], and `pool` the engine's operation pool.
  */
final class EngineSession private[core] (
    val id: String,
    val user: String,
    val spark: SparkSession,
    registry: ConcurrentHashMap[String, Operation],
    pool: Executor) {

  val createdMs: Long = System.currentTimeMillis()

  private val ops = new ConcurrentHashMap[String, Operation]()
  @volatile private var closed = false

  /** Last activity (open/statement) — drives the engine's idle reaper
    * (ref kyuubi.session.engine.idle.timeout).
    */
  @volatile var lastAccessedMs: Long = System.currentTimeMillis()

  def touch(): Unit = lastAccessedMs = System.currentTimeMillis()

  def executeStatement(
      statement: String,
      mode: ResultMode = ResultMode.Full,
      timeoutMs: Long = 0): ExecuteStatement =
    start(new ExecuteStatement(this, statement, mode), timeoutMs)

  /** Run a metadata-style DataFrame builder under the operation
    * lifecycle (registered like any statement, so engine-wide lookup,
    * cancel, and rowset paging all apply).
    */
  def executeMetadata(build: SparkSession => DataFrame): DataFrameOperation =
    start(new DataFrameOperation(this, build), 0)

  private def start[O <: Operation](op: O, timeoutMs: Long): O = {
    touch()
    ops.put(op.handle, op)
    registry.put(op.handle, op)
    // a close() that raced the registration has already walked `ops`
    if (closed) {
      forget(op)
      throw new IllegalStateException(s"session $id is closed")
    }
    if (timeoutMs > 0) op.armTimeout(timeoutMs, Operation.timeoutScheduler)
    // a closed engine's pool takes nothing: undo the registration
    try op.run(pool)
    catch {
      case e: RejectedExecutionException =>
        op.close()
        throw new IllegalStateException("the engine is closed", e)
    }
    op
  }

  /** Drop a closing operation from the session and the engine index. */
  private[core] def forget(op: Operation): Unit = {
    ops.remove(op.handle, op)
    registry.remove(op.handle, op)
  }

  /** The session's live operations: a closed one is gone. */
  def openOperations: Seq[Operation] = ops.values.asScala.toSeq

  def close(): Unit = {
    closed = true
    ops.values.asScala.foreach(op => try op.close() catch { case _: Throwable => })
  }
}

/** In-process stand-in for the reference's ZooKeeper/etcd engine
  * discovery (kyuubi-ha/.../DiscoveryClient.scala): maps an engine
  * space key to a registered engine "address". Pluggable so a real
  * distributed registry can be swapped in.
  */
trait DiscoveryClient {
  def register(space: String, address: String): Unit
  def get(space: String): Option[String]
  def unregister(space: String): Unit
  /** Every live registration in the space (admin listing); backends
    * with sequence nodes override with the full registration order.
    */
  def getAll(space: String): Seq[String] = get(space).toSeq

  /** Remove a SPECIFIC registration some other process created —
    * the prober's stale-corpse reaper: a SIGKILLed engine never runs
    * its own unregister, and backends without ephemeral nodes (the
    * file registry without TTL) would serve the dead address forever.
    * Backends whose nodes die with the owner's session (ZK ephemeral)
    * can keep the default no-op.
    */
  def evict(space: String, address: String): Unit = ()
}

final class InMemoryDiscoveryClient extends DiscoveryClient {
  private val reg = new ConcurrentHashMap[String, String]()
  override def register(space: String, address: String): Unit = reg.put(space, address)
  override def get(space: String): Option[String] = Option(reg.get(space))
  override def unregister(space: String): Unit = reg.remove(space)
}

/** The engine: owns the root SparkSession, hands out sessions keyed by
  * share level, and registers the engine-info UDFs.
  *
  * Share semantics (ref ShareLevel.scala:23-46 +
  * SparkSQLSessionManager.scala:108-120): each share key owns one
  * "engine" SparkSession, cloned lazily from the root. With
  * `singleSession = false` (reference default) every gateway session
  * still gets its own `newSession()` clone of that engine session
  * (isolated temp views / conf); with `singleSession = true`
  * (reference's kyuubi.engine.single.spark.session) sessions sharing a
  * key share the engine SparkSession itself — temp views become
  * visible across connections of the same user/group/server scope.
  *
  * Every operation of every session runs on the engine's one operation
  * pool (the reference engine's exec pool): a frontend only submits and
  * waits, so no wire's worker threads, and no shared pool a blocking
  * collect can fill, decide when a statement runs. [[close]] stops it.
  */
final class Engine(
    val rootSpark: SparkSession,
    val shareLevel: ShareLevel = ShareLevel.User,
    val singleSession: Boolean = false,
    val discovery: DiscoveryClient = new InMemoryDiscoveryClient,
    val groupProvider: GroupProvider = new UserPrefixGroupProvider,
    val confAdvisors: Seq[SessionConfAdvisor] = Nil,
    val engineInitSql: Seq[String] = Nil,
    val sessionInitSql: Seq[String] = Nil) {

  val engineId: String = s"graft-${UUID.randomUUID().toString.take(8)}"
  Kdf.registerAll(rootSpark, engineId)

  // Live delegation-token store (the engine side of the reference's
  // credential push — SparkTBinaryFrontendService.RenewDelegationToken
  // updates the process credentials the same way): alias → base64
  // token, replaced wholesale on every push so a long-lived engine
  // serves renewed tokens, not its launch-time ones. The map itself
  // (plain serializable strings) is what `engine_credential` captures.
  private val credentialsStore = new ConcurrentHashMap[String, String]()

  /** Replace the engine's delegation tokens (alias → base64 token). */
  def updateCredentials(aliasToB64: Map[String, String]): Unit = {
    credentialsStore.putAll(aliasToB64.asJava)
    credentialsStore.keySet().retainAll(aliasToB64.keySet.asJava)
  }

  def credential(alias: String): Option[String] = Option(credentialsStore.get(alias))

  Kdf.registerCredentialLookup(rootSpark, credentialsStore)

  private val sessions = new ConcurrentHashMap[String, EngineSession]()
  // every live operation of every session, by handle: sessions add and
  // Operation.close removes, so no frontend keeps a copy
  private val operations = new ConcurrentHashMap[String, Operation]()
  // share-level cache: key → that scope's engine SparkSession
  private val sparkByKey = new ConcurrentHashMap[String, SparkSession]()

  // Named daemon threads made on demand up to the ceiling and retired
  // after a minute idle; statements beyond the ceiling wait in FIFO
  // order. Package-visible so a test can shrink it to one thread.
  private[core] val operationPool: ThreadPoolExecutor = {
    val p = new ThreadPoolExecutor(Engine.OperationThreads, Engine.OperationThreads,
      60, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, s"graft-op-${Engine.opThreadIds.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  private def shareKey(user: String, sessionId: String,
      conf: Map[String, String]): String = shareLevel match {
    case ShareLevel.Connection => s"connection/$sessionId"
    case ShareLevel.User => s"user/$user"
    // the GROUP namespace comes from the pluggable provider (reference
    // GroupProvider.primaryGroup via kyuubi.session.group.provider)
    case ShareLevel.Group => s"group/${groupProvider.primaryGroup(user, conf)}"
    case ShareLevel.Server => "server"
  }

  /** Client conf merged with each advisor's overlay, in advisor order
    * (overlay entries OVERWRITE — reference SessionConfAdvisor
    * contract; later advisors see and may override earlier results).
    *
    * Client-supplied `graft.server.*` keys (bare or under the
    * `set:hiveconf:`/`set:hivevar:` URL-conf prefixes) are stripped
    * BEFORE advisors run: that namespace is reserved for
    * advisor-pinned, server-trusted values (e.g. ConfGroupProvider's
    * group membership), so a client asserting them must not survive
    * the merge.
    */
  def advisedConf(user: String, clientConf: Map[String, String]): Map[String, String] = {
    val sanitized = clientConf.filterNot { case (k, _) => Engine.isReservedClientKey(k) }
    confAdvisors.foldLeft(sanitized)((acc, a) => acc ++ a.confOverlay(user, acc))
  }

  /** A `newSession()` clone of `parent` as every engine session starts:
    * artifact isolation off, so all sessions share one executor class
    * loader and with it Spark's codegen cache, which is keyed by (class
    * loader, code). With Spark's default each session gets a loader of
    * its own, and a new connection recompiles every whole-stage stage
    * and runs it cold. A session reads the setting once, at its first
    * statement, so it is set before any statement runs; a client's
    * `spark.sql.artifact.isolation.enabled=true` session conf, applied
    * before its first statement, still isolates that session. Added
    * jars are visible to every session, as on Spark 3.
    */
  private def newEngineSession(parent: SparkSession): SparkSession = {
    val s = parent.newSession()
    s.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, false)
    // per-query column-lineage dispatch to the Events bus (reference
    // SparkOperationLineageQueryExecutionListener); no-op per query
    // until a handler registers. newSession() starts with no listeners.
    s.listenerManager.register(new graft.plans.LineageQueryExecutionListener)
    s
  }

  def openSession(user: String, conf: Map[String, String] = Map.empty): EngineSession = {
    val id = UUID.randomUUID().toString
    val key = shareKey(user, id, conf)
    val base = sparkByKey.computeIfAbsent(key, _ => {
      discovery.register(key, engineId)
      val s = newEngineSession(rootSpark)
      // run once per share-scope engine session (reference
      // kyuubi.engine.initialize.sql — global temp views, warmups)
      engineInitSql.foreach(s.sql(_).collect())
      s
    })
    val sessionSpark = if (singleSession) base else newEngineSession(base)
    // identity for the authz rules (graft.plans.ApplyAuthzPolicies):
    // user plus GroupProvider-resolved membership, so group-subject
    // policy items (Ranger's users/groups lists) can match. MUST be
    // published before any initialize SQL runs — init statements can
    // be client-carried (graft.session.initialize.sql), and
    // ApplyAuthzPolicies no-ops when the user conf is absent, so
    // setting identity afterwards would let a client smuggle
    // policy-bypassing statements into session conf.
    sessionSpark.conf.set("spark.graft.authz.user", user)
    sessionSpark.conf.set("spark.graft.authz.groups",
      groupProvider.groups(user, conf).mkString(","))
    // per-connection statements (reference
    // kyuubi.engine.session.initialize.sql), server-configured first,
    // then any the client carried in its session conf
    val connInit = conf.get("graft.session.initialize.sql")
      .map(_.split(";").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    (sessionInitSql ++ connInit).foreach(sessionSpark.sql(_).collect())
    val sess = new EngineSession(id, user, sessionSpark, operations, operationPool)
    Kdf.registerAll(sess.spark, engineId, sessionUser = Some(user))
    Kdf.registerCredentialLookup(sess.spark, credentialsStore)
    sessions.put(id, sess)
    Events.post(Events.SessionEvent(id, user, "OPENED", System.currentTimeMillis()))
    sess
  }

  def session(id: String): Option[EngineSession] = Option(sessions.get(id))

  /** A live operation of any of this engine's sessions, by handle: the
    * one lookup every frontend resolves a handle through. A closed
    * operation is unknown.
    */
  def operation(handle: String): Option[Operation] = Option(operations.get(handle))

  /** All live gateway sessions (admin surface — reference
    * SessionsResource GET /sessions walks the SessionManager the same
    * way).
    */
  def openSessions: Seq[EngineSession] = sessions.values.asScala.toSeq

  def closeSession(id: String): Unit =
    Option(sessions.remove(id)).foreach { s =>
      s.close()
      Events.post(Events.SessionEvent(id, s.user, "CLOSED", System.currentTimeMillis()))
    }

  def openSessionCount: Int = sessions.size()

  /** Close sessions idle longer than `idleTimeoutMs` and with no live
    * operation (ref kyuubi.session.engine.idle.timeout — the reaper
    * that keeps a long-lived multi-tenant gateway from accumulating
    * abandoned sessions). Returns the closed session ids.
    */
  def reapIdleSessions(idleTimeoutMs: Long): Seq[String] = {
    val cutoff = System.currentTimeMillis() - idleTimeoutMs
    def idle(s: EngineSession): Boolean =
      s.lastAccessedMs < cutoff && s.openOperations.forall(_.currentState.terminal)
    sessions.asScala.toSeq.flatMap { case (id, s) =>
      // Check-then-act guard: remove THIS instance atomically, then
      // re-verify idleness — a client that touch()ed or started a
      // statement between the first check and the remove wins, and the
      // session is reinstated instead of closed under it.
      if (idle(s) && sessions.remove(id, s)) {
        if (idle(s)) {
          s.close()
          Events.post(Events.SessionEvent(id, s.user, "CLOSED", System.currentTimeMillis()))
          Some(id)
        } else {
          sessions.put(id, s)
          None
        }
      } else None
    }
  }

  /** Shut the engine down: close every session, stop the operation
    * pool (a statement submitted from here on fails at once) and drop
    * every discovery registration (the reference engine's stop() path
    * deregisters from its ZK namespace before exiting).
    */
  def close(): Unit = {
    sessions.keySet().asScala.toSeq.foreach(closeSession)
    // closing the sessions cancelled and interrupted every running
    // operation; queued ones are closed and never start
    operationPool.shutdownNow()
    operationPool.awaitTermination(10, TimeUnit.SECONDS)
    sparkByKey.keySet().asScala.toSeq.foreach { key =>
      try discovery.unregister(key) catch { case _: Throwable => }
    }
    sparkByKey.clear()
  }

  /** Every share-scope engine space this gateway has materialized
    * (admin/UI listing — each has a live discovery registration).
    */
  def engineSpaces: Seq[String] = sparkByKey.keySet().asScala.toSeq.sorted
}

object Engine {
  /** The most operations one engine runs at once (the reference's
    * exec pool size, kyuubi.backend.engine.exec.pool.size). A constant,
    * not a setting.
    */
  val OperationThreads = 100

  private val opThreadIds = new AtomicInteger

  /** True for client conf keys in the server-reserved `graft.server.*`
    * namespace (bare, or under the `set:hiveconf:`/`set:hivevar:`
    * Hive-JDBC-URL conf prefixes). Those keys carry server-trusted
    * values (e.g. ConfGroupProvider's pinned group membership), so
    * every frontend must drop them from the CLIENT-supplied conf
    * before advisor overlays merge — both in the map handed to
    * advisors AND in any map the frontend later passes to
    * [[Engine.openSession]]; a put-only merge over the raw client map
    * would resurrect a self-asserted key that `advisedConf` stripped.
    */
  def isReservedClientKey(key: String): Boolean =
    key.stripPrefix("set:hiveconf:").stripPrefix("set:hivevar:")
      .startsWith("graft.server.")
}

/** Engine-info UDFs, the reference's "KDF" registry
  * (engine/spark/udf/KDFRegistry.scala:39-108): version / engine
  * name / engine id / system user / session user / engine url.
  */
object Kdf {
  val version = "0.1.0"

  /** `session_user` reflects the gateway session's user (per-session
    * registration on the session's own SparkSession clone, ref
    * KDFRegistry session_user); `system_user` is the engine process
    * owner.
    */
  def registerAll(spark: SparkSession, engineId: String,
      sessionUser: Option[String] = None): Unit = {
    val sysUser = sys.props.getOrElse("user.name", "unknown")
    val sessUser = sessionUser.getOrElse(sysUser)
    spark.udf.register("graft_version", udf(() => version))
    spark.udf.register("engine_name", udf(() => s"graft-spark-engine"))
    spark.udf.register("engine_id", udf(() => engineId))
    spark.udf.register("system_user", udf(() => sysUser))
    spark.udf.register("session_user", udf(() => sessUser))
    spark.udf.register("engine_url", udf(() => s"local://$engineId"))
  }

  /** `engine_credential(alias)` — the current base64 delegation token
    * for `alias` from the engine's live store ('' when absent). The
    * closure captures only the (serializable) map, never the Engine,
    * so the UDF ships to executors; a push on the driver is visible to
    * later queries (tasks re-serialize the closure per execution).
    */
  def registerCredentialLookup(spark: SparkSession,
      store: ConcurrentHashMap[String, String]): Unit =
    spark.udf.register("engine_credential",
      udf((a: String) => Option(store.get(a)).getOrElse("")))
}
