package graft.server

import java.nio.file.Files

import org.apache.hive.service.rpc.thrift._
import org.apache.thrift.protocol.TBinaryProtocol
import org.apache.thrift.transport.TSocket
import org.scalatest.funsuite.AnyFunSuite

/** Process-level engine lifecycle: a REAL second JVM with its own
  * SparkSession, discovered through the file registry and spoken to
  * over its Thrift port.
  */
class EngineProcSpec extends AnyFunSuite {

  private def query42(address: String): Int = {
    val Array(host, port) = address.split(":")
    val sock = new TSocket(host, port.toInt)
    sock.open()
    try {
      val client = new TCLIService.Client(new TBinaryProtocol(sock))
      val sess = client.OpenSession(new TOpenSessionReq())
      assert(sess.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      val exec = client.ExecuteStatement(
        new TExecuteStatementReq(sess.getSessionHandle, "SELECT 40 + 2 AS answer"))
      assert(exec.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS,
        String.valueOf(exec.getStatus.getErrorMessage))
      val page = client.FetchResults(new TFetchResultsReq(
        exec.getOperationHandle, TFetchOrientation.FETCH_NEXT, 10))
      val v = page.getResults.getColumns.get(0).getI32Val.getValues.get(0)
      client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
      v
    } finally sock.close()
  }

  test("spark-submit command line has the reference SparkProcessBuilder shape") {
    val dir = Files.createTempDirectory("graft-cmd")
    val builder = new EngineProcBuilder(dir,
      sparkHome = Some("/opt/spark"),
      master = "yarn",
      sparkConf = Map("spark.executor.memory" -> "4g"),
      proxyUser = Some("alice"),
      engineJar = Some("/deploy/graft-engine.jar"))
    val cmd = builder.command("user/alice")
    // spark-submit --class <main> --conf k=v ... --proxy-user u <jar> <args>
    assert(cmd.head == "/opt/spark/bin/spark-submit")
    assert(cmd.slice(1, 3) == Seq("--class", "graft.server.EngineMain"))
    val confPairs = cmd.sliding(2).collect {
      case Seq("--conf", kv) => kv
    }.toSeq
    assert(confPairs.contains("spark.master=yarn"))
    assert(confPairs.contains("spark.executor.memory=4g"))
    assert(confPairs.contains("spark.app.name=graft-engine-user/alice"))
    val proxyIdx = cmd.indexOf("--proxy-user")
    assert(proxyIdx > 0 && cmd(proxyIdx + 1) == "alice")
    // resource comes AFTER every option, app args after the resource
    assert(cmd.takeRight(3) == Seq("/deploy/graft-engine.jar", dir.toString, "user/alice"))
    assert(proxyIdx > cmd.lastIndexOf("--conf"), "--proxy-user follows the conf block")
  }

  test("without a packaged engine jar the command falls back to bare java") {
    val dir = Files.createTempDirectory("graft-cmd2")
    // SPARK_HOME is set in this environment, but under sbt the engine
    // classes are an unpacked directory — not a legal app resource
    val builder = new EngineProcBuilder(dir, master = "local[3]")
    val cmd = builder.command("user/bob")
    assert(cmd.head.endsWith("/bin/java"))
    assert(cmd.contains("-Dspark.master=local[3]"), "the engine must get the launcher's master")
    assert(cmd.containsSlice(Seq("graft.server.EngineMain", dir.toString, "user/bob")))
    assert(cmd.exists(_.startsWith("--add-opens")), "Spark module-opens must be spelled out")
  }

  test("engine pool spawns an isolated engine JVM, discovers it, reuses it, stops it") {
    val dir = Files.createTempDirectory("graft-engine-pool")
    val builder = new EngineProcBuilder(dir)
    val pool = new EnginePool(builder)
    try {
      val e1 = pool.getOrLaunch("user/alice")
      assert(e1.alive, "engine process must be running after launch")
      assert(query42(e1.address) == 42,
        "the spawned engine must answer SQL over its own Thrift port")

      // pooling: same share key → same process, no second launch
      val e2 = pool.getOrLaunch("user/alice")
      assert(e2 eq e1, "same share key must reuse the pooled engine")

      // the registry agrees with the pool
      val reg = new graft.core.FileDiscoveryClient(dir)
      assert(reg.get("user/alice").contains(e1.address))

      pool.close()
      assert(!e1.alive, "pool close must stop the engine process")
      // clean shutdown unregisters
      val deadline = System.nanoTime() + 10e9.toLong
      while (reg.get("user/alice").nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(reg.get("user/alice").isEmpty,
        "a cleanly-stopped engine must leave the registry")
    } finally pool.close()
  }

  test("an engine JVM launched with an etcd:// discovery URL registers through the gateway") {
    val gw = new graft.core.FakeEtcdGateway
    val dir = Files.createTempDirectory("graft-engine-etcd") // unused fallback
    val builder = new EngineProcBuilder(dir,
      discoveryUrl = Some(s"etcd://${gw.hostPort}/proc"))
    val pool = new EnginePool(builder)
    try {
      val e = pool.getOrLaunch("user/etta")
      assert(e.alive)
      // the SECOND process registered over HTTP into the etcd namespace
      // the launcher watches — same string, same backend
      val reg = graft.core.DiscoveryClients.fromUrl(s"etcd://${gw.hostPort}/proc")
      assert(reg.get("user/etta").contains(e.address))
      assert(query42(e.address) == 42)
      // nothing fell back to the file registry
      assert(new graft.core.FileDiscoveryClient(dir).get("user/etta").isEmpty)
    } finally { pool.close(); gw.close() }
  }

  test("an idle engine self-terminates after its idle timeout and unregisters") {
    val dir = Files.createTempDirectory("graft-engine-idle")
    val builder = new EngineProcBuilder(dir,
      engineEnv = Map("GRAFT_ENGINE_IDLE_TIMEOUT_MS" -> "2000"))
    val pool = new EnginePool(builder)
    try {
      val eng = pool.getOrLaunch("user/idle")
      assert(query42(eng.address) == 42)
      // no sessions now open; the engine should exit on its own
      val reg = new graft.core.FileDiscoveryClient(dir)
      val deadline = System.nanoTime() + 30e9.toLong
      while (eng.alive && System.nanoTime() < deadline) Thread.sleep(200)
      assert(!eng.alive, "idle engine must exit without the launcher asking")
      val deadline2 = System.nanoTime() + 10e9.toLong
      while (reg.get("user/idle").nonEmpty && System.nanoTime() < deadline2)
        Thread.sleep(100)
      assert(reg.get("user/idle").isEmpty, "self-terminated engine must unregister")
      // the pool relaunches a fresh engine on next use
      val eng2 = pool.getOrLaunch("user/idle")
      assert(eng2.alive && (eng2 ne eng))
    } finally pool.close()
  }
}
