package graft.server

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** The one way graft creates a JDK `HttpServer` (REST, Trino and
  * Thrift-over-HTTP frontends), with TCP_NODELAY on every accepted
  * connection.
  *
  * The JDK server leaves Nagle's algorithm on by default. It flushes
  * the response headers on their own, so a body smaller than one
  * segment then waits for the client's delayed ACK: about 40 ms on
  * every small reply of a keep-alive connection. The JDK reads
  * `sun.net.httpserver.nodelay` once, when its `ServerConfig` class
  * loads on the first server creation, so it is set here, before any
  * server exists.
  */
object HttpServers {
  System.setProperty("sun.net.httpserver.nodelay", "true")

  def create(addr: InetSocketAddress, backlog: Int = 0): HttpServer =
    HttpServer.create(addr, backlog)
}
