package gatebench

import java.io.ByteArrayInputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.ByteBuffer
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ReadChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.hive.service.rpc.thrift._
import org.apache.thrift.TConfiguration
import org.apache.thrift.protocol.TBinaryProtocol
import org.apache.thrift.transport.{TSocket, TTransport}

/** Samples per layer metric, shared by every client thread of a run. */
final class Meter {
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  def add(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)
  def values(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Nil)
  def sum(name: String): Double = values(name).sum
  def count(name: String): Int = values(name).size
  def median(name: String): Double = Stats.median(values(name))
  def names: Seq[String] = samples.keySet.asScala.toSeq.sorted
}

/** A statement's decoded result and its client-side timings. */
final case class Fetched(kinds: IndexedSeq[Kind], rows: ArrayBuffer[Array[Any]],
    firstRowNs: Long, doneNs: Long, handle: String) {
  def digest: Digest = Digest.of(kinds, rows.iterator.map(_.toIndexedSeq))
}

/** One client connection speaking one wire. */
trait Wire extends AutoCloseable {
  def name: String
  def run(sql: String, stmt: String): Fetched
}

/** Counts the bytes a Thrift client reads off its socket. */
final class CountingTransport(inner: TTransport) extends TTransport {
  @volatile var bytesRead: Long = 0
  override def isOpen: Boolean = inner.isOpen
  override def open(): Unit = inner.open()
  override def close(): Unit = inner.close()
  override def read(buf: Array[Byte], off: Int, len: Int): Int = {
    val n = inner.read(buf, off, len)
    if (n > 0) bytesRead += n
    n
  }
  override def write(buf: Array[Byte], off: Int, len: Int): Unit = inner.write(buf, off, len)
  override def flush(): Unit = inner.flush()
  override def getConfiguration: TConfiguration = inner.getConfiguration
  override def updateKnownMessageSize(size: Long): Unit = inner.updateKnownMessageSize(size)
  override def checkReadBytesAvailable(n: Long): Unit = inner.checkReadBytesAvailable(n)
}

object Wire {
  val PageRows = 10000
  val User = "bench"

  def check(st: TStatus, what: String): Unit =
    if (st.getStatusCode != TStatusCode.SUCCESS_STATUS &&
        st.getStatusCode != TStatusCode.SUCCESS_WITH_INFO_STATUS)
      throw new IllegalStateException(s"$what failed: ${st.getErrorMessage}")

  def guid(h: THandleIdentifier): String = {
    val bb = ByteBuffer.wrap(h.getGuid)
    new UUID(bb.getLong, bb.getLong).toString
  }

  def nullAt(nulls: Array[Byte], i: Int): Boolean =
    i / 8 < nulls.length && (nulls(i / 8) & (1 << (i % 8))) != 0
}

/** Raw `TCLIService.Client` over binary Thrift: synchronous execute,
  * then 10k-row FetchResults pages, in column form or (with `arrow`)
  * as Arrow IPC record batches the client decodes itself.
  */
final class ThriftWire(port: Int, arrow: Boolean, tr: Tracer, meter: Meter,
    prefix: String = "") extends Wire {
  val name: String = prefix + (if (arrow) "arrow" else "thrift")
  private val transport = new CountingTransport(new TSocket("127.0.0.1", port))
  transport.open()
  private val client = new TCLIService.Client(new TBinaryProtocol(transport))
  private lazy val allocator = new RootAllocator(Long.MaxValue)

  private def rpc[A](method: String, stmt: String)(call: => A): A = {
    val t0 = System.nanoTime()
    val r = tr.span(s"$name.rpc.$method", stmt)(call)
    if (tr.enabled) meter.add(s"$name.rpc.$method", (System.nanoTime() - t0) / 1e6)
    r
  }

  private val session: TSessionHandle = {
    val req = new TOpenSessionReq()
    req.setUsername(Wire.User)
    if (arrow) req.setConfiguration(Map("kyuubi.operation.result.format" -> "arrow").asJava)
    val r = rpc("OpenSession", null)(client.OpenSession(req))
    Wire.check(r.getStatus, "OpenSession")
    r.getSessionHandle
  }

  override def run(sql: String, stmt: String): Fetched = {
    val req = new TExecuteStatementReq(session, sql)
    req.setRunAsync(false)
    val exec = rpc("ExecuteStatement", stmt)(client.ExecuteStatement(req))
    Wire.check(exec.getStatus, "ExecuteStatement")
    val op = exec.getOperationHandle
    val md = rpc("GetResultSetMetadata", stmt)(
      client.GetResultSetMetadata(new TGetResultSetMetadataReq(op)))
    Wire.check(md.getStatus, "GetResultSetMetadata")
    val cols = md.getSchema.getColumns.asScala.toIndexedSeq.map(_.getTypeDesc.getTypes.get(0).getPrimitiveEntry)
    val kinds = cols.map(c => Kind.ofHiveType(c.getType.name))
    val arrowSchema = if (arrow) arrowSchemaOf(cols) else null
    val rows = ArrayBuffer.empty[Array[Any]]
    var first = 0L
    var more = true
    val bytes0 = transport.bytesRead
    while (more) {
      val page = rpc("FetchResults", stmt)(client.FetchResults(
        new TFetchResultsReq(op, TFetchOrientation.FETCH_NEXT, if (arrow) 1 else Wire.PageRows)))
      Wire.check(page.getStatus, "FetchResults")
      val t0 = System.nanoTime()
      val got = tr.span(s"$name.decode", stmt) {
        if (arrow) decodeArrow(page.getResults, arrowSchema) else decodeColumns(page.getResults, kinds.size)
      }
      if (tr.enabled) meter.add(s"$name.decode", (System.nanoTime() - t0) / 1e6)
      if (got.nonEmpty && first == 0L) first = System.nanoTime()
      rows ++= got
      more = page.isHasMoreRows && got.nonEmpty
    }
    if (tr.enabled && rows.nonEmpty) meter.add(s"$name.bytes_per_row", (transport.bytesRead - bytes0).toDouble / rows.size)
    val done = System.nanoTime()
    rpc("CloseOperation", stmt)(client.CloseOperation(new TCloseOperationReq(op)))
    Fetched(kinds, rows, if (first == 0L) done else first, done, Wire.guid(op.getOperationId))
  }

  private def decodeColumns(rs: TRowSet, width: Int): Seq[Array[Any]] = {
    if (rs == null || rs.getColumns == null || rs.getColumns.isEmpty) return Nil
    val cols: IndexedSeq[IndexedSeq[Any]] = rs.getColumns.asScala.toIndexedSeq.map { c =>
      def masked[T](vals: java.util.List[T], nulls: Array[Byte]): IndexedSeq[Any] = {
        val out = new Array[Any](vals.size)
        var i = 0
        while (i < out.length) {
          out(i) = if (Wire.nullAt(nulls, i)) null else vals.get(i)
          i += 1
        }
        out.toIndexedSeq
      }
      c.getSetField match {
        case TColumn._Fields.BOOL_VAL => masked(c.getBoolVal.getValues, c.getBoolVal.getNulls)
        case TColumn._Fields.BYTE_VAL => masked(c.getByteVal.getValues, c.getByteVal.getNulls)
        case TColumn._Fields.I16_VAL => masked(c.getI16Val.getValues, c.getI16Val.getNulls)
        case TColumn._Fields.I32_VAL => masked(c.getI32Val.getValues, c.getI32Val.getNulls)
        case TColumn._Fields.I64_VAL => masked(c.getI64Val.getValues, c.getI64Val.getNulls)
        case TColumn._Fields.DOUBLE_VAL => masked(c.getDoubleVal.getValues, c.getDoubleVal.getNulls)
        case TColumn._Fields.STRING_VAL => masked(c.getStringVal.getValues, c.getStringVal.getNulls)
        case TColumn._Fields.BINARY_VAL => masked(c.getBinaryVal.getValues, c.getBinaryVal.getNulls)
      }
    }
    require(cols.size == width, s"page has ${cols.size} columns, schema has $width")
    val n = cols.head.size
    Seq.tabulate(n)(r => Array.tabulate[Any](width)(c => cols(c)(r)))
  }

  private def arrowSchemaOf(cols: IndexedSeq[TPrimitiveTypeEntry]): Schema = {
    val fields = cols.zipWithIndex.map { case (c, i) =>
      val t: ArrowType = c.getType match {
        case TTypeId.BOOLEAN_TYPE => ArrowType.Bool.INSTANCE
        case TTypeId.TINYINT_TYPE => new ArrowType.Int(8, true)
        case TTypeId.SMALLINT_TYPE => new ArrowType.Int(16, true)
        case TTypeId.INT_TYPE => new ArrowType.Int(32, true)
        case TTypeId.BIGINT_TYPE => new ArrowType.Int(64, true)
        case TTypeId.FLOAT_TYPE => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
        case TTypeId.DOUBLE_TYPE => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
        case TTypeId.DECIMAL_TYPE =>
          val q = c.getTypeQualifiers.getQualifiers
          new ArrowType.Decimal(q.get(TCLIServiceConstants.PRECISION).getI32Value,
            q.get(TCLIServiceConstants.SCALE).getI32Value, 128)
        case TTypeId.DATE_TYPE => new ArrowType.Date(DateUnit.DAY)
        case TTypeId.TIMESTAMP_TYPE => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
        case TTypeId.BINARY_TYPE => ArrowType.Binary.INSTANCE
        case _ => ArrowType.Utf8.INSTANCE
      }
      new Field(s"c$i", FieldType.nullable(t), null)
    }
    new Schema(fields.asJava)
  }

  private def decodeArrow(rs: TRowSet, schema: Schema): Seq[Array[Any]] = {
    if (rs == null || rs.getColumns == null || rs.getColumns.isEmpty) return Nil
    val out = ArrayBuffer.empty[Array[Any]]
    val root = VectorSchemaRoot.create(schema, allocator)
    try rs.getColumns.get(0).getBinaryVal.getValues.asScala.foreach { blob =>
      val bytes = new Array[Byte](blob.remaining())
      blob.duplicate().get(bytes)
      val batch = MessageSerializer.deserializeRecordBatch(
        new ReadChannel(Channels.newChannel(new ByteArrayInputStream(bytes))), allocator)
      try new VectorLoader(root).load(batch) finally batch.close()
      val vecs = root.getFieldVectors.asScala.toIndexedSeq
      var r = 0
      while (r < root.getRowCount) {
        out += Array.tabulate[Any](vecs.size) { c =>
          val v = vecs(c)
          if (v.isNull(r)) null
          else v match {
            case x: VarCharVector => new String(x.get(r), StandardCharsets.UTF_8)
            case x: TimeStampVector => java.lang.Long.valueOf(x.get(r))
            case x: DateDayVector => java.lang.Integer.valueOf(x.get(r))
            case x => x.getObject(r)
          }
        }
        r += 1
      }
    } finally root.close()
    out.toSeq
  }

  override def close(): Unit = {
    try client.CloseSession(new TCloseSessionReq(session)) catch { case _: Throwable => }
    transport.close()
    if (arrow) allocator.close()
  }
}

/** Stock hive-jdbc 2.3.10. Traced, the connection's TCLIService client
  * is wrapped in a counting proxy so each of its RPCs is timed. The
  * client polls GetOperationStatus without pausing (~10^4 polls per
  * statement here), so a statement's polls are counted and recorded as
  * one span over the polling window rather than one span each.
  */
final class JdbcWire(port: Int, tr: Tracer, meter: Meter) extends Wire {
  val name = "jdbc"
  Class.forName("org.apache.hive.jdbc.HiveDriver")
  private val conn = {
    val t0 = System.nanoTime()
    val c = tr.span("jdbc.connect")(java.sql.DriverManager.getConnection(
      s"jdbc:hive2://127.0.0.1:$port/;auth=noSasl", Wire.User, ""))
    if (tr.enabled) meter.add("jdbc.connect", (System.nanoTime() - t0) / 1e6)
    c
  }

  /** The running statement's RPCs, seen by the proxy. */
  private final class StmtRpcs(val id: String) {
    var rpcNs = 0L
    var polls = 0
    var pollStart = 0L
    var pollEnd = 0L
    var handle: String = _
  }
  private val current = new ThreadLocal[StmtRpcs]

  if (tr.enabled) {
    val f = conn.getClass.getDeclaredField("client")
    f.setAccessible(true)
    val inner = f.get(conn).asInstanceOf[TCLIService.Iface]
    val proxy = java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[TCLIService.Iface]),
      (_: Any, m: java.lang.reflect.Method, args: Array[AnyRef]) => {
        val st = current.get
        val poll = m.getName == "GetOperationStatus"
        val t0 = System.nanoTime()
        val r = try {
          if (poll) m.invoke(inner, args: _*)
          else tr.span(s"jdbc.rpc.${m.getName}", if (st == null) null else st.id)(m.invoke(inner, args: _*))
        } catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
        val t1 = System.nanoTime()
        if (!poll) meter.add(s"jdbc.rpc.${m.getName}", (t1 - t0) / 1e6)
        if (st != null) {
          st.rpcNs += t1 - t0
          if (poll) {
            if (st.polls == 0) st.pollStart = t0
            st.pollEnd = t1
            st.polls += 1
          }
          r match {
            case e: TExecuteStatementResp if e.getOperationHandle != null =>
              st.handle = Wire.guid(e.getOperationHandle.getOperationId)
            case _ =>
          }
        }
        r
      })
    f.set(conn, proxy)
  }

  override def run(sql: String, stmt: String): Fetched = {
    val rpcs = new StmtRpcs(stmt)
    current.set(rpcs)
    val t0 = System.nanoTime()
    try {
      val st = conn.createStatement()
      try {
        st.setFetchSize(Wire.PageRows)
        val rs = st.executeQuery(sql)
        val md = rs.getMetaData
        val n = md.getColumnCount
        val kinds = (1 to n).map(i => Kind.ofHiveType(md.getColumnTypeName(i)))
        val rows = ArrayBuffer.empty[Array[Any]]
        var first = 0L
        while (rs.next()) {
          rows += Array.tabulate[Any](n)(i => rs.getObject(i + 1))
          if (first == 0L) first = System.nanoTime()
        }
        rs.close()
        val done = System.nanoTime()
        Fetched(kinds, rows, if (first == 0L) done else first, done, rpcs.handle)
      } finally st.close()
    } finally {
      if (tr.enabled) {
        meter.add("jdbc.status_calls", rpcs.polls.toDouble)
        if (rpcs.polls > 0) {
          tr.record("jdbc.rpc.GetOperationStatus", stmt, tr.currentId, rpcs.pollStart, rpcs.pollEnd)
          meter.add("jdbc.rpc.GetOperationStatus", (rpcs.pollEnd - rpcs.pollStart) / 1e6)
        }
        meter.add("jdbc.iterate_ms", (System.nanoTime() - t0 - rpcs.rpcNs) / 1e6)
      }
      current.remove()
    }
  }

  override def close(): Unit = conn.close()
}

/** Shared HTTP plumbing for the REST and Trino wires. */
abstract class HttpWire(port: Int, tr: Tracer, meter: Meter) extends Wire {
  protected val http: HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  protected val base = s"http://127.0.0.1:$port"

  protected def call(method: String, path: String, body: String, stmt: String,
      headers: Seq[(String, String)] = Nil): (Int, String) = {
    val t0 = System.nanoTime()
    val b = HttpRequest.newBuilder(URI.create(base + path))
    headers.foreach { case (k, v) => b.header(k, v) }
    val req = method match {
      case "GET" => b.GET().build()
      case "DELETE" => b.DELETE().build()
      case _ => b.POST(HttpRequest.BodyPublishers.ofString(body)).build()
    }
    val resp = tr.span(s"$name.http.$method", stmt)(http.send(req, HttpResponse.BodyHandlers.ofString()))
    if (tr.enabled) meter.add(s"$name.http.$method", (System.nanoTime() - t0) / 1e6)
    (resp.statusCode, resp.body)
  }


  protected def ok(r: (Int, String), what: String): String =
    if (r._1 == 200) r._2 else throw new IllegalStateException(s"$what: HTTP ${r._1} ${r._2.take(300)}")

  override def close(): Unit = ()
}

/** REST `/api/v1`: submit, poll the statement state, page the result
  * 10k rows at a time (JSON objects, null fields omitted).
  */
final class RestWire(port: Int, tr: Tracer, meter: Meter) extends HttpWire(port, tr, meter) {
  val name = "rest"
  private val sid = Json.parse(ok(call("POST", "/api/v1/sessions",
    s"""{"user": "${Wire.User}"}""", null), "open session")).get("sessionId").asText

  override def run(sql: String, stmt: String): Fetched = {
    val op = Json.parse(ok(call("POST", s"/api/v1/sessions/$sid/statements",
      Json.obj(Seq("sql" -> Json.str(sql))), stmt), "submit")).get("operationId").asText
    var state = ""
    var polls = 0
    while (state != "FINISHED") {
      if (polls > 0) Thread.sleep(1)
      val doc = Json.parse(ok(call("GET", s"/api/v1/sessions/$sid/statements/$op", null, stmt), "status"))
      state = doc.get("state").asText
      polls += 1
      if (Set("ERROR", "CANCELED", "TIMEOUT", "CLOSED").contains(state))
        throw new IllegalStateException(s"statement $state: ${doc.path("error").asText}")
    }
    val md = Json.parse(ok(call("GET", s"/api/v1/operations/$op/resultsetmetadata", null, stmt), "metadata"))
    val cols = md.get("columns").asScala.toIndexedSeq
    val names = cols.map(_.get("columnName").asText)
    val kinds = cols.map(c => Kind.ofHiveType(c.get("dataType").asText))
    val rows = ArrayBuffer.empty[Array[Any]]
    var first = 0L
    var more = true
    while (more) {
      val t0 = System.nanoTime()
      val body = ok(call("GET", s"/api/v1/sessions/$sid/statements/$op/result?maxRows=${Wire.PageRows}",
        null, stmt), "page")
      val page = tr.span("rest.decode", stmt)(Json.parse(body).get("rows").asScala.toIndexedSeq.map { r =>
        Array.tabulate[Any](names.size)(i => Json.scalar(r.get(names(i))))
      })
      if (tr.enabled) {
        meter.add("rest.page_ms", (System.nanoTime() - t0) / 1e6)
        if (page.nonEmpty) meter.add("rest.bytes_per_row", body.length.toDouble / page.size)
      }
      if (page.nonEmpty && first == 0L) first = System.nanoTime()
      rows ++= page
      more = page.size == Wire.PageRows
    }
    if (tr.enabled) meter.add("rest.polls", polls)
    val done = System.nanoTime()
    Fetched(kinds, rows, if (first == 0L) done else first, done, op)
  }

  override def close(): Unit = {
    try call("DELETE", s"/api/v1/sessions/$sid", null, null) catch { case _: Throwable => }
    super.close()
  }
}

/** Trino `/v1/statement`: follow `nextUri` until the final document,
  * which carries every row.
  */
final class TrinoWire(port: Int, tr: Tracer, meter: Meter) extends HttpWire(port, tr, meter) {
  val name = "trino"
  private val hdr = Seq("X-Trino-User" -> Wire.User)

  override def run(sql: String, stmt: String): Fetched = {
    var doc = Json.parse(ok(call("POST", "/v1/statement", sql, stmt, hdr), "submit"))
    val id = doc.get("id").asText
    var polls = 0
    var lastNs = 0L
    while (doc.hasNonNull("nextUri")) {
      val t0 = System.nanoTime()
      val body = ok(call("GET", doc.get("nextUri").asText, null, stmt, hdr), "poll")
      doc = tr.span("trino.decode", stmt)(Json.parse(body))
      lastNs = System.nanoTime() - t0
      polls += 1
    }
    if (doc.hasNonNull("error"))
      throw new IllegalStateException(s"query failed: ${doc.get("error").path("message").asText}")
    val kinds = doc.get("columns").asScala.toIndexedSeq.map(c => Kind.ofHiveType(c.get("type").asText))
    val rows = ArrayBuffer.empty[Array[Any]]
    doc.path("data").asScala.foreach { r =>
      rows += Array.tabulate[Any](kinds.size)(i => Json.scalar(r.get(i)))
    }
    if (tr.enabled) {
      meter.add("trino.polls", polls)
      meter.add("trino.final_doc_ms", lastNs / 1e6)
    }
    val done = System.nanoTime()
    Fetched(kinds, rows, done, done, id)
  }
}
