package graft.server

import java.io.ByteArrayInputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.{Executors, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.thrift.protocol.TBinaryProtocol
import org.apache.thrift.transport.TIOStreamTransport

/** Thrift-over-HTTP transport for the TCLIService frontend — the
  * reference's `kyuubi.frontend.protocols=THRIFT_HTTP` /
  * HiveServer2 `hive.server2.transport.mode=http` wire (reference
  * kyuubi-server/.../KyuubiTHttpFrontendService.scala, which mounts
  * Thrift's TServlet pattern on a web server). Stock Hive JDBC
  * connects with `;transportMode=http;httpPath=cliservice`.
  *
  * Each POST body is one Thrift binary message: it is fed through the
  * SAME `TCLIService.Processor` the binary frontend uses (session and
  * operation state are shared — a handle opened over HTTP pages over
  * HTTP or binary alike), and the serialized response is the reply
  * body. The wire is stateless, so authentication is per request:
  * with a provider configured, the `Authorization: Basic` credentials
  * (what Hive JDBC sends in HTTP mode without Kerberos) must pass the
  * same [[AuthenticationProvider]] seam as SASL PLAIN, and the proven
  * identity is installed for the processor call so OpenSession trusts
  * the transport, not the request body.
  */
final class ThriftHttpFrontend(frontend: ThriftFrontend, requestedPort: Int = 0,
    httpPath: String = "cliservice", auth: Option[AuthenticationProvider] = None,
    maxBodyBytes: Int = ThriftHttpFrontend.DefaultMaxBodyBytes,
    negotiate: Option[SpnegoAuthenticator] = None) {

  import ThriftHttpFrontend._

  private val processor = frontend.processor
  private val mountedPath = s"/$httpPath"

  private val server: HttpServer = HttpServer.create(new InetSocketAddress(requestedPort), 0)
  val boundPort: Int = server.getAddress.getPort

  private def basicCredentials(ex: HttpExchange): Option[(String, String)] =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.regionMatches(true, 0, "Basic ", 0, 6))
      .flatMap { h =>
        try {
          val dec = new String(Base64.getDecoder.decode(h.substring(6).trim),
            StandardCharsets.UTF_8)
          dec.split(":", 2) match {
            case Array(u, p) => Some((u, p))
            case _ => None
          }
        } catch { case _: IllegalArgumentException => None }
      }

  /** Per-request authentication, three-way: a missing/bad credential is
    * the client's fault (401), a provider outage is the server's fault
    * (500) — conflating them tells users "wrong password" during an
    * infra incident. The seam's contract is `authenticate` throws
    * SecurityException (or the SASL wrapper's SaslException) on
    * rejection; anything else a provider throws (connection refused,
    * SQL errors, …) is a failure of the provider itself.
    */
  private def authenticateRequest(ex: HttpExchange): AuthOutcome = (negotiate, auth) match {
    case (Some(spnego), _) =>
      // SPNEGO/Kerberos (HTTP Negotiate): stateless per-request
      // handshake — reject → 401 challenge with `WWW-Authenticate:
      // Negotiate`; accept → identity (+ mutual-auth token on the
      // response). The validator seam throws nothing: malformed
      // tokens, foreign service principals and acceptance failures
      // all come back Left (the client's fault, 401) — GSS
      // infrastructure failures would surface from the seam as
      // exceptions and map to 500 like a PLAIN provider outage.
      try {
        spnego.authenticate(ex.getRequestHeaders.getFirst("Authorization")) match {
          case Right((user, respToken)) =>
            respToken.foreach(t => ex.getResponseHeaders.set("WWW-Authenticate",
              "Negotiate " + Base64.getEncoder.encodeToString(t)))
            Authenticated(user)
          case Left(_) => Rejected
        }
      } catch { case e: Exception => ProviderFailure(e) }
    case (None, None) => Anonymous
    case (None, Some(p)) =>
      basicCredentials(ex) match {
        case None => Rejected
        case Some((u, pw)) =>
          try {
            Option(p.authenticate(u, pw)).fold[AuthOutcome](Rejected)(Authenticated)
          } catch {
            case _: SecurityException | _: javax.security.sasl.SaslException => Rejected
            case e: Exception => ProviderFailure(e)
          }
      }
  }

  server.createContext(mountedPath, (ex: HttpExchange) => {
    try {
      // com.sun HttpServer context matching is prefix-based; serve the
      // exact mounted path only (reject /cliserviceXYZ).
      if (ex.getRequestURI.getPath != mountedPath) {
        ex.sendResponseHeaders(404, -1)
      } else if (ex.getRequestMethod != "POST") {
        ex.sendResponseHeaders(405, -1)
      } else authenticateRequest(ex) match {
        case Rejected =>
          ex.getResponseHeaders.set("WWW-Authenticate",
            if (negotiate.isDefined) "Negotiate" else "Basic realm=\"graft\"")
          ex.sendResponseHeaders(401, -1)
        case ProviderFailure(_) =>
          ex.sendResponseHeaders(500, -1)
        case outcome =>
          // Bound the body BEFORE buffering it: one Thrift call frame is
          // small; an oversized (or unstated-length, over-streaming)
          // body is rejected with 413 rather than read to exhaustion.
          val declared = ex.getRequestHeaders.getFirst("Content-Length")
          if (declared != null && declared.toLong > maxBodyBytes) {
            ex.sendResponseHeaders(413, -1)
          } else {
            val body = ex.getRequestBody.readNBytes(maxBodyBytes + 1)
            if (body.length > maxBodyBytes) {
              ex.sendResponseHeaders(413, -1)
            } else {
              val outBytes = new java.io.ByteArrayOutputStream(4096)
              val transport = new TIOStreamTransport(new ByteArrayInputStream(body), outBytes)
              val proto = new TBinaryProtocol(transport)
              outcome match {
                case Authenticated(u) => PlainSasl.setAuthenticatedUser(u)
                case _ => ()
              }
              try processor.process(proto, proto)
              finally PlainSasl.clearAuthenticatedUser()
              val resp = outBytes.toByteArray
              ex.getResponseHeaders.set("Content-Type", "application/x-thrift")
              ex.sendResponseHeaders(200, resp.length)
              ex.getResponseBody.write(resp)
            }
          }
      }
    } catch {
      case _: Exception => try ex.sendResponseHeaders(500, -1) catch { case _: Exception => }
    } finally ex.close()
  })
  // Owned by this frontend and shut down by stop(): status long-polls
  // hold these threads for up to Operation.StatusWaitMs each.
  private val workers = Executors.newFixedThreadPool(16, r => {
    val t = new Thread(r, "graft-thrift-http")
    t.setDaemon(true)
    t
  })
  server.setExecutor(workers)

  def start(): ThriftHttpFrontend = { server.start(); this }

  def stop(): Unit = {
    server.stop(0)
    workers.shutdown()
    workers.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object ThriftHttpFrontend {
  /** One Thrift call frame (metadata ops, statements, fetch requests)
    * is KBs; 8 MB leaves room for outsized statements while bounding
    * what an unauthenticated client can make the server buffer.
    */
  val DefaultMaxBodyBytes: Int = 8 * 1024 * 1024

  /** Three-way per-request authentication outcome. */
  private sealed trait AuthOutcome
  private final case class Authenticated(user: String) extends AuthOutcome
  private case object Anonymous extends AuthOutcome
  private case object Rejected extends AuthOutcome
  private final case class ProviderFailure(cause: Exception) extends AuthOutcome
}
