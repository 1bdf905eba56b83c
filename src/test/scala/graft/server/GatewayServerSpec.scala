package graft.server

import java.nio.file.Files
import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.core.FileDiscoveryClient

/** The deployed gateway shape, end to end with REAL processes: a stock
  * Hive JDBC client connects to [[GatewayServer]] (SASL PLAIN), which
  * launches an isolated engine JVM per user (engine-token secured) and
  * forwards the whole TCLIService conversation to it.
  */
class GatewayServerSpec extends AnyFunSuite {

  test("gateway routes each user to an isolated engine JVM and forwards the conversation") {
    val dir = Files.createTempDirectory("graft-gateway")
    val builder = new EngineProcBuilder(dir, engineSecret = Some("gw-secret"),
      master = "local[1]")
    val gw = new GatewayServer(builder,
      auth = Some(new StaticAuthenticationProvider(
        Map("alice" -> "pwa", "bob" -> "pwb")))).start()
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val url = s"jdbc:hive2://localhost:${gw.boundPort}/"

      val ca = DriverManager.getConnection(url, "alice", "pwa")
      try {
        // statement execution forwards (execute + status poll + fetch)
        val rs = ca.createStatement().executeQuery("SELECT 40 + 2 AS v")
        assert(rs.next() && rs.getInt("v") == 42)
        // the engine session carries the gateway-authenticated identity
        // through the token-secured hop
        val ru = ca.createStatement().executeQuery("SELECT session_user() AS u")
        assert(ru.next() && ru.getString("u") == "alice")
        // the engine runs graft's extension (its SQL functions) on the
        // master the launcher was given
        val rt = ca.createStatement().executeQuery("SELECT graft_token_count('a b c') AS n")
        assert(rt.next() && rt.getInt("n") == 3)
        val rm = ca.createStatement().executeQuery("SET spark.master")
        assert(rm.next() && rm.getString("value") == "local[1]")
        // metadata ops route through the same engine connection
        val schemas = ca.getMetaData.getSchemas()
        assert(schemas.next(), "engine must report at least one schema")
        schemas.close()
      } finally ca.close()

      // bad credentials die at the gateway's SASL layer — no engine call
      intercept[java.sql.SQLException] {
        DriverManager.getConnection(url, "alice", "nope")
      }

      val cb = DriverManager.getConnection(url, "bob", "pwb")
      try {
        val rs = cb.createStatement().executeQuery("SELECT session_user() AS u")
        assert(rs.next() && rs.getString("u") == "bob")
      } finally cb.close()

      // share-level USER isolation: two users, two live engine JVMs
      val reg = new FileDiscoveryClient(dir)
      val ea = reg.get("user/alice")
      val eb = reg.get("user/bob")
      assert(ea.nonEmpty && eb.nonEmpty, s"both engines registered: $ea / $eb")
      assert(ea != eb, "alice and bob must not share an engine JVM")
    } finally gw.stop()

    // gateway stop tears the pooled engines down (clean unregister)
    val reg2 = new FileDiscoveryClient(dir)
    val deadline = System.nanoTime() + 20e9.toLong
    while ((reg2.get("user/alice").nonEmpty || reg2.get("user/bob").nonEmpty)
        && System.nanoTime() < deadline) Thread.sleep(200)
    assert(reg2.get("user/alice").isEmpty && reg2.get("user/bob").isEmpty,
      "gateway stop must stop and unregister every pooled engine")
  }

  test("SERVER share level pools one engine JVM for every user") {
    val dir = Files.createTempDirectory("graft-gateway-server")
    val builder = new EngineProcBuilder(dir)
    val gw = new GatewayServer(builder, shareLevel = graft.core.ShareLevel.Server).start()
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val url = s"jdbc:hive2://localhost:${gw.boundPort}/;auth=noSasl"
      val ca = DriverManager.getConnection(url, "alice", "")
      val cb = DriverManager.getConnection(url, "bob", "")
      try {
        assert(ca.createStatement().executeQuery("SELECT 1 AS a").next())
        assert(cb.createStatement().executeQuery("SELECT 2 AS b").next())
      } finally { ca.close(); cb.close() }
      val reg = new FileDiscoveryClient(dir)
      assert(reg.get("server/shared").nonEmpty, "the one shared engine registers")
      assert(reg.getAll("server/shared").size == 1, "exactly one engine JVM")
      assert(reg.get("user/alice").isEmpty && reg.get("user/bob").isEmpty)
    } finally gw.stop()
  }

  test("CONNECTION share level gives a throwaway engine that dies with the session") {
    val dir = Files.createTempDirectory("graft-gateway-conn")
    val builder = new EngineProcBuilder(dir)
    val gw = new GatewayServer(builder, shareLevel = graft.core.ShareLevel.Connection).start()
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val url = s"jdbc:hive2://localhost:${gw.boundPort}/;auth=noSasl"
      val reg = new FileDiscoveryClient(dir)
      val conn = DriverManager.getConnection(url, "carol", "")
      val liveSpaces =
        try {
          assert(conn.createStatement().executeQuery("SELECT 42 AS v").next())
          // a probe pass opens probe state for the live slot…
          gw.prober.probeOnce()
          assert(gw.prober.trackedSlots.exists(_.startsWith("connection/carol/")),
            s"probe state for the live engine: ${gw.prober.trackedSlots}")
          reg.spaces().filter(_.startsWith("connection/carol/"))
        } finally conn.close()
      // …and the pass after the slot leaves the pool PRUNES it (r13
      // ADVICE: otherwise probe sockets for closed CONNECTION engines
      // accumulate unboundedly on a long-lived gateway)
      gw.prober.probeOnce()
      assert(!gw.prober.trackedSlots.exists(_.startsWith("connection/carol/")),
        s"stale probe state must be pruned: ${gw.prober.trackedSlots}")
      assert(liveSpaces.size == 1, s"one engine for the connection: $liveSpaces")
      // closing the JDBC connection closes the session → engine dies
      val deadline = System.nanoTime() + 25e9.toLong
      while (liveSpaces.exists(s => reg.get(s).nonEmpty) && System.nanoTime() < deadline)
        Thread.sleep(200)
      assert(liveSpaces.forall(s => reg.get(s).isEmpty),
        "a CONNECTION-level engine must be stopped when its session closes")
    } finally gw.stop()
  }

  test("gateway HA: self-registration, discovery-based resolve, failover, unregister on stop") {
    val dir = Files.createTempDirectory("graft-gateway-ha")
    val reg = new FileDiscoveryClient(dir)
    // a crashed gateway's stale node (the file backend has no ephemeral
    // cleanup): registered FIRST so a naive oldest-first pick would
    // return it — the resolver's health probe must walk past it
    reg.register(GatewayServer.Namespace, "127.0.0.1:1")
    val g1 = new GatewayServer(new EngineProcBuilder(dir), selfRegister = true).start()
    val g2 = new GatewayServer(new EngineProcBuilder(dir), selfRegister = true).start()
    var g1Stopped = false
    try {
      val all = new FileDiscoveryClient(dir).getAll(GatewayServer.Namespace)
      assert(all.size == 3 &&
        all.contains(s"127.0.0.1:${g1.boundPort}") &&
        all.contains(s"127.0.0.1:${g2.boundPort}"),
        s"both gateways must self-register: $all")
      // a CLIENT-side discovery handle resolves the oldest LIVE gateway
      val resolved = GatewayServer.resolveGateway(new FileDiscoveryClient(dir))
      assert(resolved.contains(s"127.0.0.1:${g1.boundPort}"),
        s"resolver must skip the dead node and pick g1: $resolved")
      // and the resolved address serves a real JDBC conversation
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val conn = DriverManager.getConnection(
        s"jdbc:hive2://${resolved.get}/;auth=noSasl", "ha-user", "")
      try assert(conn.createStatement().executeQuery("SELECT 7 AS v").next())
      finally conn.close()
      // graft-ctl resolves through the same registry
      val ctl = graft.tools.ControlCli.run(
        Array("resolve", "gateway", "--discovery", dir.toString))
      assert(ctl.code == 0 && ctl.out == s"127.0.0.1:${g1.boundPort}", ctl.toString)
      // stopping g1 unregisters it → clients fail over to g2
      g1.stop(); g1Stopped = true
      val after = new FileDiscoveryClient(dir).getAll(GatewayServer.Namespace)
      assert(!after.contains(s"127.0.0.1:${g1.boundPort}"), "stop must unregister")
      val r2 = GatewayServer.resolveGateway(new FileDiscoveryClient(dir))
      assert(r2.contains(s"127.0.0.1:${g2.boundPort}"), s"failover resolve: $r2")
    } finally {
      if (!g1Stopped) g1.stop()
      g2.stop()
    }
  }

  test("GROUP share level: one engine JVM per resolved group; clients cannot steer placement") {
    val dir = Files.createTempDirectory("graft-gateway-group")
    // server-side membership: an advisor pins the group over the
    // reserved graft.server.* channel (the client cannot set it)
    val advisor = new graft.core.SessionConfAdvisor {
      override def confOverlay(user: String, c: Map[String, String]): Map[String, String] =
        Map("graft.server.session.group" -> (if (user == "carol") "analytics" else "eng"))
    }
    val gw = new GatewayServer(new EngineProcBuilder(dir),
      shareLevel = graft.core.ShareLevel.Group,
      groupProvider = new graft.core.ConfGroupProvider,
      confAdvisors = Seq(advisor)).start()
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      def query(user: String, urlConf: String = ""): Unit = {
        val c = DriverManager.getConnection(
          s"jdbc:hive2://localhost:${gw.boundPort}/;auth=noSasl$urlConf", user, "")
        try assert(c.createStatement().executeQuery("SELECT 1 AS a").next())
        finally c.close()
      }
      query("alice")
      query("bob")
      query("carol")
      val reg = new FileDiscoveryClient(dir)
      assert(reg.getAll("group/eng").size == 1,
        "alice and bob (one group) must share ONE engine JVM")
      assert(reg.getAll("group/analytics").size == 1,
        "carol's group gets its own engine JVM")
      assert(reg.get("user/alice").isEmpty, "no per-user engines at GROUP level")
      // a client asserting membership via the reserved channel is
      // stripped before the advisor overlay — mallory still lands on
      // the advisor-resolved 'eng' engine, not in 'analytics'
      query("mallory", "?graft.server.session.group=analytics")
      assert(reg.getAll("group/analytics").size == 1,
        "client-asserted group must not steer placement into another group's JVM")
      assert(reg.getAll("group/eng").size == 1, "mallory joined the advisor-resolved group")
    } finally gw.stop()
  }

  test("alive probe detects a wedged engine, evicts and relaunches it, and new sessions work") {
    // Hung-engine failover (reference KyuubiSyncThriftClient's
    // engine-alive-probe session): a SIGSTOP'd engine still ACCEPTS TCP
    // (the kernel serves the listen backlog for a stopped process) but
    // never answers a Thrift call — exactly the failure the
    // process-death relaunch path cannot see.
    val dir = Files.createTempDirectory("graft-gateway-probe")
    val builder = new EngineProcBuilder(dir)
    val gw = new GatewayServer(builder,
      engineSocketTimeoutMs = 3000,
      aliveProbeTimeoutMs = 1000, aliveProbeMaxFailures = 2).start()
    // probe interval left at 0: the test drives probeOnce() itself so
    // detection timing is deterministic
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val url = s"jdbc:hive2://localhost:${gw.boundPort}/;auth=noSasl"
      val reg = new FileDiscoveryClient(dir)
      val c1 = DriverManager.getConnection(url, "eve", "")
      assert(c1.createStatement().executeQuery("SELECT 1 AS v").next())
      val addr1 = reg.get("user/eve")
      assert(addr1.nonEmpty)
      // a healthy probe neither evicts nor relaunches
      gw.prober.probeOnce()
      assert(reg.get("user/eve") == addr1)
      val proc1 = gw.poolSnapshot("user/eve")
      // wedge the engine JVM
      Runtime.getRuntime.exec(Array("kill", "-STOP", proc1.pid.toString)).waitFor()
      try {
        // in-flight forward: clean SQLException within the socket
        // timeout, never an indefinite hang
        val hung = intercept[java.sql.SQLException] {
          c1.createStatement().executeQuery("SELECT 2 AS v")
        }
        assert(String.valueOf(hung.getMessage).contains("engine forward failed"),
          s"got: ${hung.getMessage}")
        // the desynced engine conn was EVICTED with its buffered late
        // reply: the next call gets a clean 'unknown session', never a
        // Thrift out-of-sequence wedge (r13 ADVICE)
        val after = intercept[java.sql.SQLException] {
          c1.createStatement().executeQuery("SELECT 21 AS v")
        }
        assert(String.valueOf(after.getMessage).contains("unknown session"),
          s"got: ${after.getMessage}")
        // two consecutive probe failures → evict + SIGKILL + relaunch
        gw.prober.probeOnce()
        gw.prober.probeOnce()
        val deadline = System.nanoTime() + 20e9.toLong
        while (proc1.alive && System.nanoTime() < deadline) Thread.sleep(100)
        assert(!proc1.alive, "the wedged engine process must be killed")
        // the stale discovery node is reaped; the relaunched engine
        // registered a fresh address
        val addr2 = reg.get("user/eve")
        assert(addr2.nonEmpty && addr2 != addr1,
          s"replacement engine must register a new address: $addr1 -> $addr2")
        // a NEW session lands on the replacement and works
        val c2 = DriverManager.getConnection(url, "eve", "")
        try assert(c2.createStatement().executeQuery("SELECT 3 AS v").next())
        finally c2.close()
      } finally {
        // resume-if-still-stopped so nothing leaks if an assert fired
        Runtime.getRuntime.exec(Array("kill", "-CONT", proc1.pid.toString)).waitFor()
        try c1.close() catch { case _: Throwable => }
      }
    } finally gw.stop()
  }

  test("engine pool size 2: POLLING spreads one user's connections over two engine JVMs") {
    // reference kyuubi.engine.pool.size + pool.select.policy
    // (KyuubiConf.scala:2639-2653, EngineRef.scala:88): a single heavy
    // tenant must not serialize on one driver JVM.
    val dir = Files.createTempDirectory("graft-gateway-pool")
    val builder = new EngineProcBuilder(dir)
    val gw = new GatewayServer(builder, poolSize = 2).start()
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val url = s"jdbc:hive2://localhost:${gw.boundPort}/;auth=noSasl"
      val reg = new FileDiscoveryClient(dir)
      val c1 = DriverManager.getConnection(url, "frank", "")
      val c2 = DriverManager.getConnection(url, "frank", "")
      try {
        assert(c1.createStatement().executeQuery("SELECT 1 AS v").next())
        assert(c2.createStatement().executeQuery("SELECT 2 AS v").next())
        val s0 = reg.get("user/frank/pool-0")
        val s1 = reg.get("user/frank/pool-1")
        assert(s0.nonEmpty && s1.nonEmpty, s"both slots must launch: $s0 / $s1")
        assert(s0 != s1, "two connections must land on two distinct engine JVMs")
        // session-conf pool size is clamped at the server threshold
        // (reference EngineRef.scala:88: min(session ask, threshold)):
        // a tenant asking for 3 under threshold 2 cycles over the SAME
        // two slots — pool-2 never exists
        val c3 = DriverManager.getConnection(
          s"$url?graft.engine.pool.size=3", "frank", "")
        val c4 = DriverManager.getConnection(
          s"$url?graft.engine.pool.size=3", "frank", "")
        try {
          assert(c3.createStatement().executeQuery("SELECT 3 AS v").next())
          assert(c4.createStatement().executeQuery("SELECT 4 AS v").next())
          assert(reg.get("user/frank/pool-2").isEmpty,
            "a session ask above the threshold must not widen the pool")
          assert(gw.poolSnapshot.keySet == Set("user/frank/pool-0", "user/frank/pool-1"),
            s"got: ${gw.poolSnapshot.keySet}")
          // and a session asking for 1 pins to slot 0 (still a sub-slot
          // name: sizes mix within one space without forking engines)
          val c5 = DriverManager.getConnection(
            s"$url?graft.engine.pool.size=1", "frank", "")
          try {
            assert(c5.createStatement().executeQuery("SELECT 5 AS v").next())
            assert(gw.poolSnapshot.keySet == Set("user/frank/pool-0", "user/frank/pool-1"))
          } finally c5.close()
        } finally { c3.close(); c4.close() }
      } finally { c1.close(); c2.close() }
    } finally gw.stop()
    // teardown stops BOTH slot engines
    val reg2 = new FileDiscoveryClient(dir)
    val deadline = System.nanoTime() + 20e9.toLong
    while ((reg2.get("user/frank/pool-0").nonEmpty || reg2.get("user/frank/pool-1").nonEmpty)
        && System.nanoTime() < deadline) Thread.sleep(200)
    assert(reg2.get("user/frank/pool-0").isEmpty && reg2.get("user/frank/pool-1").isEmpty,
      "gateway stop must stop both pool slots")
  }

  test("renewed credentials reach a RUNNING engine before the next statement; a failed push leaves the session epoch unadvanced") {
    val dir = Files.createTempDirectory("graft-gateway-renew")
    // a provider whose token payload the test bumps mid-session — the
    // engine must observe the new value WITHOUT relaunching
    @volatile var payload = "v1"
    val provider = new DelegationTokenProvider {
      override def serviceName: String = "svc"
      override def delegationTokensRequired(): Boolean = true
      override def obtainDelegationTokens(owner: String, creds: TokenBundle): Unit =
        creds.add("svc", payload.getBytes("UTF-8"))
    }
    val cm = new CredentialsManager(renewalIntervalMs = 300,
      renewalRetryWaitMs = 100, extraProviders = Seq(provider))
    val builder = new EngineProcBuilder(dir, credentialsManager = Some(cm))
    val gw = new GatewayServer(builder, credentials = Some(cm)).start()
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val url = s"jdbc:hive2://localhost:${gw.boundPort}/;auth=noSasl"
      val c = DriverManager.getConnection(url, "alice", "")
      val b64 = java.util.Base64.getEncoder
      def credNow(): String = {
        val rs = c.createStatement().executeQuery(
          "SELECT engine_credential('svc') AS t")
        assert(rs.next())
        val v = rs.getString("t"); rs.close(); v
      }
      def awaitEpochPast(e: Long): Unit = {
        val deadline = System.nanoTime() + 20e9.toLong
        while (cm.userEpoch("alice") <= e && System.nanoTime() < deadline)
          Thread.sleep(50)
        assert(cm.userEpoch("alice") > e, "renewal must advance the user epoch")
      }
      try {
        // launch handoff seeds the engine's live store
        assert(credNow() == b64.encodeToString("v1".getBytes("UTF-8")),
          "launch-time token must seed the engine store")
        // bump the provider payload; once the manager re-obtains, the
        // NEXT statement's pre-forward push must land in the engine
        // before the statement runs
        val e0 = cm.userEpoch("alice")
        payload = "v2"
        awaitEpochPast(e0)
        assert(credNow() == b64.encodeToString("v2".getBytes("UTF-8")),
          "renewed token must reach the running engine before the next statement")
        val delivered = cm.sessionEpochsSnapshot
        assert(delivered.nonEmpty && delivered.values.forall(_ > e0),
          s"session epoch must record the delivery: $delivered")
        // failed push: kill the engine; the delivery attempt on the next
        // statement fails, so the session epoch stays where it was even
        // though the user epoch kept advancing
        gw.poolSnapshot.values.foreach(_.kill())
        payload = "v3"
        awaitEpochPast(delivered.values.max)
        try {
          val rs = c.createStatement().executeQuery("SELECT 1 AS x")
          rs.close()
        } catch { case _: Throwable => () } // forward error is expected
        assert(cm.sessionEpochsSnapshot == delivered,
          "a failed send must leave the session epoch unadvanced")
      } finally c.close()
    } finally {
      gw.stop()
      cm.close()
    }
  }

  test("standalone GatewayMain process serves JDBC end to end (three JVMs)") {
    val dir = Files.createTempDirectory("graft-gateway-main")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").toSeq.filter(_.nonEmpty)
    val cmd = Seq(javaBin) ++ moduleOpts ++ Seq(
      "-Xmx1g", "-cp", System.getProperty("java.class.path"),
      "graft.server.GatewayMain", dir.toString)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("GRAFT_ENGINE_SECRET", "main-secret")
    val proc = pb.start()
    try {
      // wait for the READY line, draining output
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var port = -1
      val deadline = System.nanoTime() + 60e9.toLong
      var line = reader.readLine()
      while (line != null && port < 0 && System.nanoTime() < deadline) {
        if (line.startsWith("GATEWAY READY localhost:"))
          port = line.stripPrefix("GATEWAY READY localhost:").trim.toInt
        else line = reader.readLine()
      }
      assert(port > 0, "gateway must print its READY line")
      // keep draining in the background so the pipe never fills
      val drainer = new Thread(() => {
        try { var l = reader.readLine(); while (l != null) l = reader.readLine() }
        catch { case _: Throwable => }
      })
      drainer.setDaemon(true); drainer.start()

      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val conn = DriverManager.getConnection(
        s"jdbc:hive2://localhost:$port/;auth=noSasl", "erin", "")
      try {
        val rs = conn.createStatement().executeQuery("SELECT 40 + 2 AS v")
        assert(rs.next() && rs.getInt("v") == 42)
      } finally conn.close()

      // dropping the gateway's stdin shuts it AND its engines down
      proc.getOutputStream.close()
      assert(proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS),
        "gateway process must exit when stdin drops")
      val reg = new FileDiscoveryClient(dir)
      val d2 = System.nanoTime() + 15e9.toLong
      while (reg.spaces().exists(s => reg.get(s).nonEmpty) && System.nanoTime() < d2)
        Thread.sleep(200)
      assert(reg.spaces().forall(s => reg.get(s).isEmpty),
        "every engine must be gone after the gateway exits")
    } finally proc.destroyForcibly()
  }

  test("status long-polls forward within the engine read timeout without evicting the connection") {
    import graft.core.Operation.StatusWaitMs
    // a read timeout the engine's status hold can reach is refused up front
    val e = intercept[IllegalArgumentException] {
      new GatewayServer(new EngineProcBuilder(Files.createTempDirectory("graft-gateway-rt")),
        engineSocketTimeoutMs = StatusWaitMs.toInt)
    }
    assert(e.getMessage.contains("engineSocketTimeoutMs"), e.getMessage)

    val dir = Files.createTempDirectory("graft-gateway-longpoll")
    val gw = new GatewayServer(new EngineProcBuilder(dir), engineSocketTimeoutMs = 3000).start()
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      val conn = DriverManager.getConnection(
        s"jdbc:hive2://localhost:${gw.boundPort}/;auth=noSasl", "fay", "")
      try {
        // several held GetOperationStatus calls ride the one engine connection
        val rs = conn.createStatement().executeQuery(
          s"SELECT 5 AS v, reflect('java.lang.Thread', 'sleep', CAST(${StatusWaitMs * 4} AS BIGINT)) AS z")
        assert(rs.next() && rs.getInt("v") == 5)
        // an evicted connection would answer 'unknown session' here
        val rs2 = conn.createStatement().executeQuery("SELECT 6 AS v")
        assert(rs2.next() && rs2.getInt("v") == 6)
      } finally conn.close()
    } finally gw.stop()
  }

  test("CloseSession drops the routes of the operations its client never closed") {
    import org.apache.hive.service.rpc.thrift._
    val dir = Files.createTempDirectory("graft-gateway-routes")
    val gw = new GatewayServer(new EngineProcBuilder(dir)).start()
    val sock = new org.apache.thrift.transport.TSocket("localhost", gw.boundPort)
    try {
      sock.open()
      val client = new TCLIService.Client(new org.apache.thrift.protocol.TBinaryProtocol(sock))
      val open = new TOpenSessionReq()
      open.setUsername("gus")
      val sess = client.OpenSession(open)
      assert(sess.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS,
        String.valueOf(sess.getStatus.getErrorMessage))
      val exec = client.ExecuteStatement(
        new TExecuteStatementReq(sess.getSessionHandle, "SELECT 1 AS one"))
      assert(exec.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      val h = exec.getOperationHandle
      assert(client.GetOperationStatus(new TGetOperationStatusReq(h)).getStatus.getStatusCode ==
        TStatusCode.SUCCESS_STATUS)
      // the operation is never closed: CloseSession must drop its route too
      assert(client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
        .getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      val st = client.GetOperationStatus(new TGetOperationStatusReq(h))
      assert(st.getStatus.getStatusCode == TStatusCode.ERROR_STATUS)
      assert(st.getStatus.getErrorMessage == "unknown operation")
    } finally {
      sock.close()
      gw.stop()
    }
  }
}
