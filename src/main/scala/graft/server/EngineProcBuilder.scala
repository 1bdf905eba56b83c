package graft.server

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import graft.core.FileDiscoveryClient

/** Launches [[EngineMain]] engine processes and pools them by share
  * key — process-level engine lifecycle (the reference's
  * ProcBuilder/SparkProcessBuilder + EngineRef: the server spawns a
  * separate driver JVM per share scope, finds its address through
  * discovery, and reuses it while it lives).
  *
  * The launcher holds the child's stdin open; pool shutdown closes it
  * (clean stop) and falls back to destroy. Each engine is its own JVM
  * with its own SparkSession, so one tenant's OOM/crash cannot take
  * down another's — the isolation property single-process session
  * cloning cannot give.
  *
  * Command construction follows the reference's SparkProcessBuilder
  * (kyuubi-server/.../engine/spark/SparkProcessBuilder.scala:133-163):
  * `spark-submit --class <mainClass> --conf k=v … [--proxy-user u]
  * <mainResource> <args>`. That path is taken when SPARK_HOME is set
  * AND the engine classes are packaged as a jar (a real deployment);
  * in dev, where classes live in an unpacked directory spark-submit
  * cannot take as its primary resource, the fallback is a bare java
  * child with Spark's own module-opens — the pooling, discovery
  * handshake, and lifetime management are identical either way.
  */
final class EngineProcBuilder(discoveryDir: Path, launchTimeoutMs: Long = 180000L,
    sparkHome: Option[String] = sys.env.get("SPARK_HOME"),
    master: String = sys.env.getOrElse("SPARK_MASTER", "local[2]"),
    sparkConf: Map[String, String] = Map.empty,
    proxyUser: Option[String] = None,
    engineJar: Option[String] = None,
    engineSecret: Option[String] = None,
    engineEnv: Map[String, String] = Map.empty,
    discoveryUrl: Option[String] = None,
    // delegation tokens for the engine's user ride the child env as
    // one encoded TokenBundle (reference: the gateway obtains Hadoop
    // credentials per appUser and ships them to the engine)
    credentialsManager: Option[CredentialsManager] = None) {

  // When set, a zk://…/etcd://… URL overrides the file registry for
  // BOTH the launcher's watch and the spawned engine's registration
  // (the same string travels on the child command line).
  private val discoveryRef: String = discoveryUrl.getOrElse(discoveryDir.toString)

  /** Token for connecting to an engine launched with [[engineSecret]]
    * (the server side of engine security: pass as the SASL PLAIN
    * password on the engine connection).
    */
  def issueToken(): Option[String] =
    engineSecret.map(s => new EngineTokenManager(s).issueToken())

  private val mainClass = "graft.server.EngineMain"

  /** The engine's primary resource: the jar holding [[EngineMain]], if
    * it IS a jar (under sbt it is an unpacked classes directory, which
    * spark-submit rejects as an app resource — that forces the bare-
    * java fallback, honestly).
    */
  private def resolvedEngineJar: Option[String] = engineJar.orElse {
    try {
      val loc = Class.forName(mainClass).getProtectionDomain.getCodeSource.getLocation
      val f = new java.io.File(loc.toURI)
      if (f.isFile && f.getName.endsWith(".jar")) Some(f.getAbsolutePath) else None
    } catch { case _: Throwable => None }
  }

  /** spark-submit invocation, the reference SparkProcessBuilder shape. */
  def sparkSubmitCommand(home: String, jar: String, space: String): Seq[String] = {
    val conf = Map(
      "spark.master" -> master,
      "spark.app.name" -> s"graft-engine-$space",
      "spark.ui.enabled" -> "false") ++ sparkConf
    Seq(s"$home/bin/spark-submit", "--class", mainClass) ++
      conf.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq("--conf", s"$k=$v") } ++
      proxyUser.toSeq.flatMap(u => Seq("--proxy-user", u)) ++
      Seq(jar, discoveryRef, space)
  }

  /** Bare-java fallback: Spark's module-opens spelled out, classpath
    * inherited from this JVM, and the master as a system property — the
    * engine's session keeps the master its `SparkConf` holds.
    */
  def bareJavaCommand(space: String): Seq[String] = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").toSeq.filter(_.nonEmpty)
    Seq(javaBin) ++ moduleOpts ++ Seq(
      "-Xmx1g", "-Dspark.ui.enabled=false", s"-Dspark.master=$master",
      "-cp", System.getProperty("java.class.path"),
      mainClass, discoveryRef, space)
  }

  /** The exact command line `launch(space)` will run. */
  def command(space: String): Seq[String] = (sparkHome, resolvedEngineJar) match {
    case (Some(home), Some(jar)) => sparkSubmitCommand(home, jar, space)
    case _ => bareJavaCommand(space)
  }

  final class EngineProcess private[EngineProcBuilder] (
      val space: String, val address: String, proc: Process) {
    def alive: Boolean = proc.isAlive
    /** OS pid — lets tests wedge the engine (SIGSTOP) and the prober
      * report which process it evicted.
      */
    def pid: Long = proc.pid()
    /** Clean stop: EOF on the child's stdin, then force if ignored. */
    def shutdown(): Unit = {
      try proc.getOutputStream.close() catch { case _: Throwable => }
      if (!proc.waitFor(15, java.util.concurrent.TimeUnit.SECONDS)) proc.destroy()
      if (!proc.waitFor(5, java.util.concurrent.TimeUnit.SECONDS)) proc.destroyForcibly()
    }
    /** Immediate SIGKILL — the only stop that works on a WEDGED engine:
      * a SIGSTOP'd process never reads the stdin EOF and queues SIGTERM
      * until resumed, so the graceful ladder would hang the evictor.
      */
    def kill(): Unit = proc.destroyForcibly()
  }

  private val discovery = discoveryUrl.map(graft.core.DiscoveryClients.fromUrl)
    .getOrElse(new FileDiscoveryClient(discoveryDir))

  /** The builder's discovery backend — shared with [[GatewayServer]]
    * so gateway self-registration lands in the SAME registry the
    * engines use (one `--discovery` setting configures both).
    */
  private[server] def discoveryClient: graft.core.DiscoveryClient = discovery

  /** The process-private env `launch(space)` applies to the child —
    * secret, caller extras, and the engine user's delegation tokens
    * (the user is the proxy user when impersonating, else the space's
    * owner segment, e.g. `user/alice` → alice). Factored out so the
    * credentials handoff is testable without spawning a JVM.
    */
  private[server] def launchEnv(space: String): Map[String, String] = {
    val creds = credentialsManager.flatMap { cm =>
      val user = proxyUser.getOrElse(space.split('/').last)
      Some(cm.credentialsFor(user)).filter(_.nonEmpty)
    }
    engineSecret.map("GRAFT_ENGINE_SECRET" -> _).toMap ++
      creds.map("GRAFT_ENGINE_CREDENTIALS" -> _).toMap ++ engineEnv
  }

  /** Spawn an engine JVM for `space` and wait until it registers. */
  def launch(space: String): EngineProcess = {
    val before = discovery.getAll(space).toSet
    val cmd = command(space)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    // the secret (and any tokens) travel process-private (child env),
    // never on the command line where `ps` would expose them
    launchEnv(space).foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    // drain the child's output (Spark logs would fill the pipe and
    // deadlock it); keep a tail for failure diagnostics
    val tail = new java.util.concurrent.ConcurrentLinkedDeque[String]()
    val drainer = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var line = r.readLine()
      while (line != null) {
        tail.addLast(line)
        while (tail.size > 50) tail.pollFirst()
        line = r.readLine()
      }
    }, s"engine-drain-$space")
    drainer.setDaemon(true)
    drainer.start()

    val deadline = System.nanoTime() + launchTimeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      val fresh = discovery.getAll(space).filterNot(before)
      if (fresh.nonEmpty) return new EngineProcess(space, fresh.head, proc)
      if (!proc.isAlive)
        throw new IllegalStateException(
          s"engine process for '$space' died at launch:\n${tail.toArray.mkString("\n")}")
      Thread.sleep(100)
    }
    proc.destroyForcibly()
    throw new IllegalStateException(
      s"engine for '$space' did not register within ${launchTimeoutMs}ms:\n${tail.toArray.mkString("\n")}")
  }
}

/** Share-level engine-process pool: up to `poolSize` live engine JVMs
  * per share key, relaunched on demand if a process died (the
  * reference's EngineRef.getOrCreate semantics over the discovery
  * namespace, plus kyuubi.engine.pool.size + pool.select.policy —
  * KyuubiConf.scala:2639-2653, EngineRef.scala:88: N engines per share
  * space spread one heavy tenant's concurrent statements over N driver
  * JVMs instead of serializing on one).
  *
  * With poolSize > 1 each slot is its own discovery sub-space
  * (`<space>/pool-<i>`, the reference's `-<index>` subdomain), so
  * slots launch, register, and die independently. POLLING rotates a
  * per-space counter (round-robin); RANDOM picks uniformly.
  */
final class EnginePool(builder: EngineProcBuilder, poolSize: Int = 1,
    selectPolicy: String = "POLLING") extends AutoCloseable {
  require(poolSize >= 1, s"poolSize must be >= 1, got $poolSize")
  private val procs = new ConcurrentHashMap[String, EngineProcBuilder#EngineProcess]()
  private val pollCounters =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  private val rnd = new java.util.Random()

  private def slotSpace(space: String, idx: Int): String =
    if (poolSize <= 1) space else s"$space/pool-$idx"

  /** Pick (and launch on demand) an engine for `space`.
    *
    * `requestedSize` is the session's own `graft.engine.pool.size` ask
    * (reference EngineRef.scala:88: the session conf is min'd with the
    * server's pool.size.threshold) — a tenant can request a wider pool
    * for a burst WITHOUT a gateway restart, but never wider than this
    * pool's construction-time `poolSize` threshold. Slot NAMES stay
    * threshold-based (`pool-0..poolSize-1`), so sessions requesting
    * different sizes in the same space share the low slots instead of
    * forking disjoint engine sets.
    */
  def getOrLaunch(space: String,
      requestedSize: Option[Int] = None): EngineProcBuilder#EngineProcess = {
    val effective = math.max(1, math.min(requestedSize.getOrElse(poolSize), poolSize))
    val idx =
      if (effective <= 1) 0
      else selectPolicy.toUpperCase match {
        case "RANDOM" => rnd.nextInt(effective)
        case _ => math.floorMod(pollCounters
          .computeIfAbsent(space, _ => new java.util.concurrent.atomic.AtomicInteger())
          .getAndIncrement(), effective)
      }
    getOrLaunchSlot(slotSpace(space, idx))
  }

  /** Launch (or reuse) the engine of one concrete slot space. */
  def getOrLaunchSlot(slot: String): EngineProcBuilder#EngineProcess =
    procs.compute(slot, (_, cur) =>
      if (cur != null && cur.alive) cur else builder.launch(slot))

  /** Live slot → process view (the prober's worklist). */
  def snapshot: Map[String, EngineProcBuilder#EngineProcess] = {
    import scala.jdk.CollectionConverters._
    procs.asScala.toMap
  }

  /** Evict one WEDGED engine: SIGKILL (a stopped process ignores the
    * graceful ladder), forget the slot, and reap its now-stale
    * discovery node so resolvers stop finding a corpse. CAS-guarded on
    * the exact process so a racing relaunch's replacement survives.
    */
  def evict(slot: String, expected: EngineProcBuilder#EngineProcess): Boolean = {
    val removed = procs.remove(slot, expected)
    if (removed) {
      expected.kill()
      try builder.discoveryClient.evict(slot, expected.address)
      catch { case _: Throwable => }
    }
    removed
  }

  /** Stop and forget one engine (CONNECTION-level engines die with
    * their session; reference EngineRef close for unshared engines).
    */
  def stop(space: String): Unit = {
    // poolSize > 1: a CONNECTION-level space owns every slot under it
    Option(procs.remove(space)).foreach(_.shutdown())
    if (poolSize > 1) {
      import scala.jdk.CollectionConverters._
      procs.keySet.asScala.filter(_.startsWith(s"$space/pool-")).toSeq
        .foreach(s => Option(procs.remove(s)).foreach(_.shutdown()))
    }
  }

  override def close(): Unit = {
    procs.values.forEach(_.shutdown())
    procs.clear()
  }
}
