package graft.core

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process fake of etcd's gRPC-gateway JSON API (no etcd binary
  * ships in this sandbox). Implements the real gateway contract —
  * base64 key/value bytes, int64s as strings, half-open
  * [key, range_end) prefix scans, monotone create_revision, and TTL
  * leases whose revocation or expiry deletes the keys bound to them —
  * so clients under test speak the exact wire protocol a real
  * endpoint serves. Listens on a real TCP port, so SECOND processes
  * (spawned engine JVMs) can register through it too.
  */
final class FakeEtcdGateway extends AutoCloseable {

  private case class Kv(value: String, createRev: Long, lease: Long)
  private case class Lease(ttlMs: Long, var expiresAt: Long)

  private val kvs = TrieMap.empty[String, Kv]
  private val leases = TrieMap.empty[Long, Lease]
  private val rev = new AtomicLong(0L)
  private val leaseSeq = new AtomicLong(1000L)
  /** Test hook: skew "now" forward so lease expiry is deterministic. */
  @volatile var clockSkewMs = 0L
  private def now(): Long = System.currentTimeMillis() + clockSkewMs

  private def b64d(s: String) = new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
  private def b64e(s: String) = Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def field(json: String, key: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + key + "\"\\s*:\\s*\"?([^\",}]+)\"?").matcher(json)
    if (m.find()) Some(m.group(1)) else None
  }

  private def reapExpired(): Unit = {
    val dead = leases.filter { case (_, l) => l.expiresAt <= now() }.keySet
    dead.foreach { id =>
      leases.remove(id)
      kvs.filterInPlace((_, kv) => kv.lease != id)
    }
  }

  private def handle(path: String, body: String): String = {
    reapExpired()
    path match {
      case "/v3/lease/grant" =>
        val ttlSec = field(body, "TTL").get.toLong
        val id = leaseSeq.incrementAndGet()
        leases.put(id, Lease(ttlSec * 1000, now() + ttlSec * 1000))
        s"""{"header":{"revision":"${rev.get()}"},"ID":"$id","TTL":"$ttlSec"}"""
      case "/v3/lease/revoke" =>
        val id = field(body, "ID").get.toLong
        leases.remove(id)
        kvs.filterInPlace((_, kv) => kv.lease != id)
        s"""{"header":{"revision":"${rev.incrementAndGet()}"}}"""
      case "/v3/lease/keepalive" =>
        val id = field(body, "ID").get.toLong
        leases.get(id) match {
          case Some(l) =>
            l.expiresAt = now() + l.ttlMs
            s"""{"result":{"ID":"$id","TTL":"${l.ttlMs / 1000}"}}"""
          case None => s"""{"result":{"ID":"$id","TTL":"0"}}"""
        }
      case "/v3/kv/put" =>
        val key = b64d(field(body, "key").get)
        val value = b64d(field(body, "value").get)
        val lease = field(body, "lease").map(_.toLong).getOrElse(0L)
        if (lease != 0L && !leases.contains(lease))
          throw new IllegalArgumentException("etcdserver: requested lease not found")
        val r = rev.incrementAndGet()
        kvs.put(key, Kv(value, kvs.get(key).map(_.createRev).getOrElse(r), lease))
        s"""{"header":{"revision":"$r"}}"""
      case "/v3/kv/range" =>
        val key = b64d(field(body, "key").get)
        val end = field(body, "range_end").map(b64d)
        val hits = kvs.toSeq
          .filter { case (k, _) => k >= key && end.forall(k < _) }
          .sortBy(_._1)
        val kvJson = hits.map { case (k, kv) =>
          s"""{"key":"${b64e(k)}","create_revision":"${kv.createRev}","mod_revision":"${kv.createRev}","value":"${b64e(kv.value)}","lease":"${kv.lease}"}"""
        }
        s"""{"header":{"revision":"${rev.get()}"},"kvs":[${kvJson.mkString(",")}],"count":"${hits.size}"}"""
      case other => throw new IllegalArgumentException(s"unhandled $other")
    }
  }

  private val server: HttpServer = {
    val s = graft.server.HttpServers.create(new InetSocketAddress("127.0.0.1", 0), 16)
    s.createContext("/v3", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val (code, resp) =
        try (200, handle(ex.getRequestURI.getPath, body))
        catch { case e: IllegalArgumentException => (400, s"""{"error":"${e.getMessage}"}""") }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    s.start()
    s
  }

  val endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  /** Host:port form for DiscoveryClients.fromUrl etcd:// URLs. */
  val hostPort: String = s"127.0.0.1:${server.getAddress.getPort}"

  override def close(): Unit = server.stop(0)
}
