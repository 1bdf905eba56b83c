package graft.server

import java.util.concurrent.{SynchronousQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.thrift.TProcessor
import org.apache.thrift.protocol.TBinaryProtocol
import org.apache.thrift.server.{TServerEventHandler, TThreadPoolServer}
import org.apache.thrift.transport.{TServerSocket, TTransportFactory}

/** The one way graft serves TCLIService over binary Thrift
  * ([[ThriftFrontend]], [[GatewayServer]]): a socket on `port` (0 = any
  * free), SASL PLAIN when an [[AuthenticationProvider]] is given (checked
  * before any call reaches the processor) and noSasl otherwise, 2-32
  * workers (one per connection; Thrift's own pool, with its threads named
  * `<name>-<port>-worker-<n>`) and an accept thread `<name>-<port>`, all
  * daemons. `stop` closes the socket; the workers end once their clients
  * disconnect, and the accept thread then exits.
  */
final class BinaryThriftServer(name: String, port: Int, processor: TProcessor,
    auth: Option[AuthenticationProvider], events: Option[TServerEventHandler] = None) {

  private val socket = new TServerSocket(port)
  val boundPort: Int = socket.getServerSocket.getLocalPort

  private val workers = {
    val n = new AtomicInteger
    new ThreadPoolExecutor(2, 32, 60, TimeUnit.SECONDS, new SynchronousQueue[Runnable](), (r: Runnable) => {
      val t = new Thread(r, s"$name-$boundPort-worker-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  private val server = new TThreadPoolServer(new TThreadPoolServer.Args(socket)
    .processor(processor)
    .transportFactory(auth.map(PlainSasl.serverTransportFactory).getOrElse(new TTransportFactory()))
    .protocolFactory(new TBinaryProtocol.Factory())
    .executorService(workers))
  events.foreach(server.setServerEventHandler)

  private val serveThread = new Thread(() => server.serve(), s"$name-$boundPort")
  serveThread.setDaemon(true)

  def start(): Unit = serveThread.start()

  def stop(): Unit = {
    server.stop()
    socket.close()
  }
}
