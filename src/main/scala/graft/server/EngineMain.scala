package graft.server

import graft.core.{DiscoveryClients, Engine, EngineConfs}

/** Standalone engine process: own JVM, own SparkSession, own Thrift
  * port — the child side of [[EngineProcBuilder]] (the reference
  * launches exactly this shape via spark-submit: a driver app that
  * starts a SparkTBinaryFrontendService and registers its address in
  * the discovery namespace for the server to find,
  * kyuubi-spark-sql-engine/.../SparkSQLEngine.scala).
  *
  * Usage: EngineMain <discoveryUrl> <space>
  * (discoveryUrl: a registry directory path, zk://host:port/ns, or
  * etcd://host:port/ns — see DiscoveryClients.fromUrl)
  *
  * Registers `host:port` under `space` once the frontend is bound,
  * then serves until stdin reaches EOF (the launcher holds the pipe,
  * so an exiting/crashing parent tears the engine down) or a
  * "SHUTDOWN" line arrives. On the way out it unregisters, stops the
  * frontend and closes the engine.
  *
  * On a real cluster the same main runs under spark-submit with
  * `--master yarn|k8s` — nothing here assumes local mode: the session
  * keeps the master spark-submit (or the bare-java launch's
  * `-Dspark.master`) set, and local[cores] is only the default for an
  * un-configured launch.
  */
object EngineMain {
  def main(args: Array[String]): Unit = {
    val Array(discoveryDir, space) = args.take(2)
    // the gateway serves the SAME extended, tuned session the bench
    // measures (r17 VERDICT #2)
    val spark = EngineConfs.session(s"graft-engine-$space")
    spark.sparkContext.setLogLevel("WARN")

    val engine = new Engine(spark)
    // Engine security: with a launcher-provided shared secret the
    // frontend only accepts connections whose SASL password is a live
    // token minted under that secret (reference SparkSQLEngine wires
    // EngineSecureAuthenticationProviderImpl the same way).
    val auth = sys.env.get("GRAFT_ENGINE_SECRET").map(s =>
      new EngineTokenAuthenticationProvider(new EngineTokenManager(s)))
    // Launcher-shipped delegation tokens (one encoded TokenBundle in
    // the child env — the reference sends Hadoop credentials to the
    // engine the same obtain-on-launch way): decoded here and exposed
    // as local properties so secured data sources can read them.
    sys.env.get("GRAFT_ENGINE_CREDENTIALS").foreach { enc =>
      val bundle = TokenBundle.decode(enc)
      val b64 = java.util.Base64.getEncoder
      bundle.aliases.foreach { a =>
        spark.sparkContext.setLocalProperty(
          s"graft.credentials.$a", b64.encodeToString(bundle.get(a).get))
      }
      // seed the engine's LIVE store too — the gateway's renewal push
      // (ThriftFrontend.RenewDelegationToken) replaces these in place
      engine.updateCredentials(bundle.aliases.toSeq.map(a =>
        a -> b64.encodeToString(bundle.get(a).get)).toMap)
      println(s"ENGINE CREDENTIALS ${bundle.aliases.toSeq.sorted.mkString(",")}")
    }
    val frontend = new ThriftFrontend(engine, auth = auth)
    frontend.start()
    val address = s"localhost:${frontend.boundPort}"
    // the arg is a discovery URL: file path, zk://…, or etcd://…
    // (DiscoveryClients.fromUrl) — launcher and engine pass the same
    // string, so both always land on the same backend
    val discovery = DiscoveryClients.fromUrl(discoveryDir)
    discovery.register(space, address)
    // stdout contract with the launcher: one READY line
    println(s"ENGINE READY $address")

    def shutdown(): Unit = {
      try discovery.unregister(space) catch { case _: Throwable => }
      try frontend.stop() catch { case _: Throwable => }
      try engine.close() catch { case _: Throwable => }
      try spark.stop() catch { case _: Throwable => }
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => shutdown()))

    // Idle self-termination (reference engine.idle.timeout: an engine
    // with no sessions for the timeout exits so the cluster doesn't
    // carry abandoned driver JVMs; the pool relaunches on next use).
    // The clock starts at launch, so an engine nobody ever connects to
    // also goes away.
    sys.env.get("GRAFT_ENGINE_IDLE_TIMEOUT_MS").map(_.toLong).filter(_ > 0).foreach { t =>
      val watchdog = new Thread(() => {
        var lastBusy = System.currentTimeMillis()
        while (true) {
          Thread.sleep(math.max(math.min(t / 4, 1000L), 50L))
          if (engine.openSessions.nonEmpty) lastBusy = System.currentTimeMillis()
          else if (System.currentTimeMillis() - lastBusy > t) {
            shutdown()
            System.exit(0)
          }
        }
      }, "graft-engine-idle-watchdog")
      watchdog.setDaemon(true)
      watchdog.start()
    }

    // serve until the launcher drops the pipe or asks us to stop
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "SHUTDOWN") line = in.readLine()
    shutdown()
    System.exit(0)
  }
}
