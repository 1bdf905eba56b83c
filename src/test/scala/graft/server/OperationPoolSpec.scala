package graft.server

import java.nio.ByteBuffer
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hive.service.rpc.thrift._
import org.apache.thrift.protocol.TBinaryProtocol
import org.apache.thrift.transport.TSocket
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.core.{Engine, OperationState}

/** Holds Spark tasks until a test opens it; SQL reaches it through
  * `reflect('graft.server.TaskGate', 'hold')` (a static forwarder).
  */
object TaskGate {
  @volatile private var gate = new CountDownLatch(0)
  val holding = new AtomicInteger

  def shut(): Unit = { holding.set(0); gate = new CountDownLatch(1) }
  def open(): Unit = gate.countDown()

  def hold(): String = {
    holding.incrementAndGet()
    gate.await(2, TimeUnit.MINUTES) // a failed test must not wedge the suite
    "held"
  }
}

/** The engine's operation pool over the binary Thrift wire: where
  * operations run, and who stops the threads that run them.
  */
class OperationPoolSpec extends AnyFunSuite {
  private def spark = SparkFixture.spark

  /** A Thrift client session on `port`: (client, session handle, socket). */
  private def connect(port: Int): (TCLIService.Client, TSessionHandle, TSocket) = {
    val sock = new TSocket("localhost", port)
    sock.open()
    val client = new TCLIService.Client(new TBinaryProtocol(sock))
    val open = client.OpenSession(new TOpenSessionReq())
    assert(open.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS, open.getStatus)
    (client, open.getSessionHandle, sock)
  }

  /** Submit `sql` asynchronously. */
  private def submit(client: TCLIService.Client, sess: TSessionHandle, sql: String): TOperationHandle = {
    val req = new TExecuteStatementReq(sess, sql)
    req.setRunAsync(true)
    val resp = client.ExecuteStatement(req)
    assert(resp.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS, resp.getStatus)
    resp.getOperationHandle
  }

  /** The engine's operation behind a Thrift handle. */
  private def operation(engine: Engine, h: TOperationHandle) = {
    val guid = ByteBuffer.wrap(h.getOperationId.getGuid)
    engine.operation(new UUID(guid.getLong, guid.getLong).toString).get
  }

  test("SELECT 1 finishes while nproc + 2 statements still hold every task slot") {
    val engine = new Engine(spark)
    val frontend = new ThriftFrontend(engine).start()
    val (client, sess, sock) = connect(frontend.boundPort)
    TaskGate.shut()
    try {
      val held = Runtime.getRuntime.availableProcessors + 2
      val holders = (1 to held).map(_ => submit(client, sess,
        "SELECT reflect('graft.server.TaskGate', 'hold') AS z FROM range(0, 1, 1, 1)"))
      // every task slot is taken before the short statement comes in
      val slots = math.min(held, spark.sparkContext.defaultParallelism)
      val deadline = System.nanoTime() + 60e9.toLong
      while (TaskGate.holding.get < slots && System.nanoTime() < deadline) Thread.sleep(10)
      assert(TaskGate.holding.get == slots)

      // SELECT 1 from a local relation: it needs an operation thread but
      // runs no Spark job, so no task slot (a bare `SELECT 1` scans a
      // one-row RDD with one task, and would queue for a slot in Spark's
      // scheduler, which the operation pool does not govern)
      val probe = submit(client, sess, "SELECT * FROM VALUES (1) AS t(v)")
      val state = operation(engine, probe).awaitTerminal(60000)
      assert(state == OperationState.Finished, s"SELECT 1 behind $held running statements: $state")
      val states = holders.map(h => operation(engine, h).currentState)
      assert(states.forall(!_.terminal), states)
      val rows = client.FetchResults(new TFetchResultsReq(probe,
        TFetchOrientation.FETCH_NEXT, 10)).getResults.getColumns.get(0).getI32Val.getValues
      assert(rows.asScala == Seq(1))
    } finally {
      TaskGate.open()
      client.CloseSession(new TCloseSessionReq(sess))
      sock.close()
      frontend.stop()
      engine.close()
    }
  }

  test("stopping the frontend and closing the engine ends every thread they started") {
    def owned: Set[Thread] = Thread.getAllStackTraces.keySet.asScala.filter { t =>
      t.isAlive && (t.getName.startsWith("graft-op-") || t.getName.startsWith("graft-thrift-"))
    }.toSet
    val before = owned
    val engine = new Engine(spark)
    val frontend = new ThriftFrontend(engine).start()
    try {
      val clients = (1 to 3).map(_ => connect(frontend.boundPort))
      for (((client, sess, _), i) <- clients.zipWithIndex) {
        val op = operation(engine, submit(client, sess, s"SELECT sum(id) AS s FROM range(${1000 * (i + 1)})"))
        assert(op.awaitTermination(60000) == OperationState.Finished, op.exception)
      }
      val started = (owned -- before).map(_.getName)
      assert(Seq("graft-op-", s"graft-thrift-${frontend.boundPort}", s"graft-thrift-${frontend.boundPort}-worker-")
        .forall(p => started.exists(_.startsWith(p))), started)
      clients.foreach { case (client, sess, sock) =>
        client.CloseSession(new TCloseSessionReq(sess))
        sock.close()
      }
    } finally {
      frontend.stop()
      engine.close()
    }
    val left = owned -- before
    left.foreach(_.join(10000)) // a thread may still be unwinding
    assert(left.forall(!_.isAlive), left.filter(_.isAlive).map(_.getName))
  }
}
