package graft.server

import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.core.Engine

/** Thrift-over-HTTP transport end-to-end: the stock HiveServer2 JDBC
  * driver in `transportMode=http` mode (POSTing Thrift binary frames
  * to /cliservice) connects, queries, pages and closes against
  * [[ThriftHttpFrontend]]; with an auth provider, the HTTP Basic
  * credentials the driver sends are checked per request and the proven
  * identity becomes the session user.
  */
class ThriftHttpSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val engine = new Engine(SparkFixture.spark)
  private var binary: ThriftFrontend = _
  private var http: ThriftHttpFrontend = _
  private var securedBinary: ThriftFrontend = _
  private var secured: ThriftHttpFrontend = _

  private def url = s"jdbc:hive2://localhost:${http.boundPort}/;transportMode=http;httpPath=cliservice"
  private def securedUrl = s"jdbc:hive2://localhost:${secured.boundPort}/;transportMode=http;httpPath=cliservice"

  override def beforeAll(): Unit = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    binary = new ThriftFrontend(engine) // shares state; binary port unused
    http = new ThriftHttpFrontend(binary).start()
    val provider = new StaticAuthenticationProvider(Map("alice" -> "secret"))
    securedBinary = new ThriftFrontend(engine, auth = Some(provider))
    secured = new ThriftHttpFrontend(securedBinary, auth = Some(provider)).start()
  }

  override def afterAll(): Unit = {
    if (http != null) http.stop()
    if (secured != null) secured.stop()
    if (binary != null) binary.stop()
    if (securedBinary != null) securedBinary.stop()
  }

  test("stock Hive JDBC connects over HTTP and queries") {
    val conn = DriverManager.getConnection(url, "carol", "")
    try {
      val rs = conn.createStatement().executeQuery("SELECT 40 + 2 AS v")
      assert(rs.next() && rs.getInt("v") == 42)
    } finally conn.close()
  }

  test("multi-row result pages over the stateless HTTP wire") {
    val conn = DriverManager.getConnection(url, "carol", "")
    try {
      val st = conn.createStatement()
      st.setFetchSize(7) // several fetch round trips, each its own POST
      val rs = st.executeQuery("SELECT id FROM range(100) ORDER BY id")
      var n = 0
      var sum = 0L
      while (rs.next()) { sum += rs.getLong(1); n += 1 }
      assert(n == 100 && sum == 4950)
    } finally conn.close()
  }

  test("metadata operations work over HTTP") {
    val conn = DriverManager.getConnection(url, "carol", "")
    try {
      val md = conn.getMetaData
      val rs = md.getSchemas()
      assert(rs.next(), "expected at least one schema")
    } finally conn.close()
  }

  test("Basic-auth credentials are verified and become the session user") {
    val conn = DriverManager.getConnection(securedUrl, "alice", "secret")
    try {
      val rs = conn.createStatement().executeQuery("SELECT session_user() AS u")
      assert(rs.next() && rs.getString("u") == "alice")
    } finally conn.close()
  }

  test("bad credentials are rejected per request (401 before any TCLIService call)") {
    intercept[java.sql.SQLException] {
      DriverManager.getConnection(securedUrl, "alice", "wrong")
    }
    intercept[java.sql.SQLException] {
      DriverManager.getConnection(securedUrl, "mallory", "secret")
    }
  }

  // ---- raw-HTTP status contract (what the JDBC driver hides) ----

  private def rawPost(port: Int, path: String, body: Array[Byte],
      headers: Map[String, String] = Map.empty,
      declareLength: Option[Long] = None): Int = {
    val url = new java.net.URL(s"http://localhost:$port$path")
    val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    declareLength match {
      case Some(n) => c.setFixedLengthStreamingMode(n)
      case None => c.setChunkedStreamingMode(64 * 1024)
    }
    val os = c.getOutputStream
    try os.write(body) catch { case _: java.io.IOException => () } finally {
      try os.close() catch { case _: java.io.IOException => () }
    }
    val code = c.getResponseCode
    c.disconnect()
    code
  }

  private def basic(u: String, p: String): Map[String, String] = Map(
    "Authorization" -> ("Basic " + java.util.Base64.getEncoder
      .encodeToString(s"$u:$p".getBytes("UTF-8"))))

  test("SPNEGO Negotiate handshake: challenge, canned-token accept, identity installed") {
    import org.apache.hive.service.rpc.thrift._
    import org.apache.thrift.protocol.TBinaryProtocol
    import org.apache.thrift.transport.TIOStreamTransport

    // stand-in for GSS acceptance: identity rides the canned token's
    // enc-part slot (what real acceptance decrypts); DER framing,
    // service-principal precheck and the HTTP handshake are all real
    val validator: GssTokenValidator = tok =>
      SpnegoTokens.opaqueOf(tok)
        .map(b => new String(b, "UTF-8").takeWhile(_ != '@'))
        .toRight("no identity").map(u => (u, Some("mutual-resp".getBytes("UTF-8"))))
    val h = new ThriftHttpFrontend(binary,
      negotiate = Some(new SpnegoAuthenticator(validator))).start()
    try {
      // a real OpenSession call frame, serialized with the thrift client
      val frame = {
        val buf = new java.io.ByteArrayOutputStream()
        val client = new TCLIService.Client(
          new TBinaryProtocol(new TIOStreamTransport(buf)))
        client.send_OpenSession(new TOpenSessionReq())
        buf.toByteArray
      }
      def exchange(headers: Map[String, String]): (Int, Option[String], Array[Byte]) = {
        val c = new java.net.URL(s"http://localhost:${h.boundPort}/cliservice")
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("POST"); c.setDoOutput(true)
        headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
        val os = c.getOutputStream; os.write(frame); os.close()
        val code = c.getResponseCode
        val www = Option(c.getHeaderField("WWW-Authenticate"))
        val body =
          if (code == 200) c.getInputStream.readAllBytes() else Array.emptyByteArray
        c.disconnect()
        (code, www, body)
      }
      // no token → 401 with a Negotiate challenge (not Basic)
      val (c1, www1, _) = exchange(Map.empty)
      assert(c1 == 401 && www1.contains("Negotiate"), s"$c1 $www1")
      // foreign-service token → still 401
      val foreign = SpnegoTokens.cannedToken("ldap/dir", "EXAMPLE.COM",
        "eve@EXAMPLE.COM".getBytes("UTF-8"))
      val (c2, _, _) = exchange(Map("Authorization" ->
        ("Negotiate " + java.util.Base64.getEncoder.encodeToString(foreign))))
      assert(c2 == 401)
      // valid token → 200, mutual-auth token on the response, and the
      // OpenSession reply carries a live session owned by the SPNEGO identity
      val tok = SpnegoTokens.cannedToken("HTTP/gateway", "EXAMPLE.COM",
        "spnego_bob@EXAMPLE.COM".getBytes("UTF-8"))
      val (c3, www3, body3) = exchange(Map("Authorization" ->
        ("Negotiate " + java.util.Base64.getEncoder.encodeToString(tok))))
      assert(c3 == 200, s"expected 200, got $c3")
      assert(www3.exists(_.startsWith("Negotiate ")), s"mutual token missing: $www3")
      val respClient = new TCLIService.Client(new TBinaryProtocol(
        new TIOStreamTransport(new java.io.ByteArrayInputStream(body3),
          new java.io.ByteArrayOutputStream())))
      // advance the client's seqid to match the request that produced
      // this response (thrift clients pair send/recv on one instance)
      respClient.send_OpenSession(new TOpenSessionReq())
      val resp = respClient.recv_OpenSession()
      assert(resp.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS, resp)
      assert(engine.openSessions.exists(_.user == "spnego_bob"),
        s"users: ${engine.openSessions.map(_.user)}")
    } finally h.stop()
  }

  test("provider outage is 500, not 401 — infra incidents don't read as wrong passwords") {
    val flaky = new AuthenticationProvider {
      override def authenticate(user: String, password: String): String =
        throw new RuntimeException("auth backend down")
    }
    val fe = new ThriftFrontend(engine, auth = Some(flaky))
    val h = new ThriftHttpFrontend(fe, auth = Some(flaky)).start()
    try {
      assert(rawPost(h.boundPort, "/cliservice", Array[Byte](1, 2, 3),
        basic("alice", "secret")) == 500)
    } finally { h.stop(); fe.stop() }
  }

  test("credential rejection stays 401 at the raw wire") {
    assert(rawPost(secured.boundPort, "/cliservice", Array[Byte](1, 2, 3),
      basic("alice", "wrong")) == 401)
    assert(rawPost(secured.boundPort, "/cliservice", Array[Byte](1, 2, 3)) == 401)
  }

  test("oversized bodies are rejected with 413, declared or streamed") {
    val small = new ThriftHttpFrontend(binary, maxBodyBytes = 1024).start()
    try {
      val big = Array.fill[Byte](4096)(7)
      assert(rawPost(small.boundPort, "/cliservice", big,
        declareLength = Some(big.length.toLong)) == 413)
      // chunked (no Content-Length): server must stop reading at the cap
      assert(rawPost(small.boundPort, "/cliservice", big) == 413)
    } finally small.stop()
  }

  test("only the exact mounted path is served (prefix matches are 404)") {
    assert(rawPost(http.boundPort, "/cliserviceXYZ", Array[Byte](1)) == 404)
    assert(rawPost(http.boundPort, "/cliservice/extra", Array[Byte](1)) == 404)
  }

  test("stop() ends the frontend's worker threads") {
    def workers = Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.isAlive && t.getName.startsWith("graft-thrift-http"))
    val baseline = workers
    val fe = new ThriftHttpFrontend(binary).start()
    try {
      val conn = DriverManager.getConnection(
        s"jdbc:hive2://localhost:${fe.boundPort}/;transportMode=http;httpPath=cliservice", "dora", "")
      try {
        val rs = conn.createStatement().executeQuery("SELECT 7 AS v")
        assert(rs.next() && rs.getInt("v") == 7)
      } finally conn.close()
      assert((workers -- baseline).nonEmpty, "the statement should have run on the frontend's workers")
    } finally fe.stop()
    // stop() awaits the pool; a worker may still be unwinding its run()
    (workers -- baseline).foreach(_.join(10000))
    assert(workers.size == baseline.size, s"leaked: ${(workers -- baseline).map(_.getName)}")
  }
}
