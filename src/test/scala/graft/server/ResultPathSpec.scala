package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.hive.service.rpc.thrift._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types._
import org.apache.thrift.protocol.TBinaryProtocol
import org.apache.thrift.transport.TSocket
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.core.Engine

/** Every wire pages a finished operation's rows through the one core
  * paging step and encodes them with the shared encoders: Thrift column
  * and row pages, REST `/result` and `/rowset` JSON, and Trino `data`
  * must agree on every type, and REST pages must cost no Spark job.
  */
class ResultPathSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** (i, FLOAT, DOUBLE) of the non-finite rows. */
  private val nonFinite = Seq((-4, "NaN", "Infinity"), (-5, "Infinity", "NaN"),
    (-6, "-Infinity", "-0.0"), (-7, "-0.0", "-Infinity"))

  /** The type matrix: one row of typical values, one of edge values
    * (zero decimal at scale 18, a string needing JSON escapes, empty
    * binary, a one-element array), four that put NaN, both infinities
    * and negative zero in each floating column, one of nulls.
    */
  private val matrixSql =
    raw"""SELECT * FROM (
      |SELECT true AS b, CAST(1 AS TINYINT) AS t, CAST(2 AS SMALLINT) AS s, 3 AS i,
      |  CAST(4 AS BIGINT) AS l, CAST(1.5 AS FLOAT) AS f, 2.25D AS d,
      |  CAST(0 AS DECIMAL(38,18)) AS dec, 'x' AS str, DATE'2026-01-02' AS dt,
      |  TIMESTAMP'2026-01-02 03:04:05.123' AS ts, X'616263' AS bin,
      |  ARRAY(1, 2) AS arr, MAP('k', 1) AS m, named_struct('a', 1, 'b', 'q') AS st
      |UNION ALL
      |SELECT false, CAST(-1 AS TINYINT), CAST(-2 AS SMALLINT), -3, CAST(-4 AS BIGINT),
      |  CAST(-0.25 AS FLOAT), -1.0E10D, CAST(12345.678 AS DECIMAL(38,18)),
      |  'he said "hi"\n\ttab', DATE'1999-12-31', TIMESTAMP'1999-12-31 23:59:59',
      |  X'', ARRAY(3), MAP('z', 2), named_struct('a', 2, 'b', 'r')
      |${nonFinite.map { case (i, f, d) =>
        s"""UNION ALL
        |SELECT true, CAST(1 AS TINYINT), CAST(2 AS SMALLINT), $i, CAST(4 AS BIGINT),
        |  CAST('$f' AS FLOAT), CAST('$d' AS DOUBLE), CAST(0 AS DECIMAL(38,18)), 'x',
        |  DATE'2026-01-02', TIMESTAMP'2026-01-02 03:04:05.123', X'616263', ARRAY(1, 2),
        |  MAP('k', 1), named_struct('a', 1, 'b', 'q')
        |""".stripMargin }.mkString}UNION ALL
      |SELECT CAST(NULL AS BOOLEAN), CAST(NULL AS TINYINT), CAST(NULL AS SMALLINT),
      |  CAST(NULL AS INT), CAST(NULL AS BIGINT), CAST(NULL AS FLOAT), CAST(NULL AS DOUBLE),
      |  CAST(NULL AS DECIMAL(38,18)), CAST(NULL AS STRING), CAST(NULL AS DATE),
      |  CAST(NULL AS TIMESTAMP), CAST(NULL AS BINARY), CAST(NULL AS ARRAY<INT>),
      |  CAST(NULL AS MAP<STRING,INT>), CAST(NULL AS STRUCT<a:INT,b:STRING>)
      |) ORDER BY i DESC NULLS LAST""".stripMargin

  private lazy val schema: StructType = spark.sql(matrixSql).schema
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
  // FLOAT and DOUBLE cells are read as doubles: a BigDecimal has no
  // negative zero
  private val doubles = new ObjectMapper()
  private def floating(dt: DataType): Boolean = dt == FloatType || dt == DoubleType

  // --- canonical cell values: how each wire's rendering is compared -------
  private val Null = "NULL"

  /** A cell from a text wire (Thrift string column / row value, Trino). */
  private def fromText(text: String, dt: DataType): String = dt match {
    case _: DecimalType => new java.math.BigDecimal(text).stripTrailingZeros.toPlainString
    case FloatType => text.toFloat.toString
    case DoubleType => text.toDouble.toString
    case TimestampType => java.sql.Timestamp.valueOf(text).toInstant.toString
    case BinaryType => hex(text.getBytes(StandardCharsets.UTF_8))
    case _: ArrayType | _: MapType | _: StructType => mapper.readTree(text).toString
    case _ => text
  }

  /** A cell from REST JSON (a missing field is a null). */
  private def fromJson(node: JsonNode, dt: DataType): String =
    if (node == null || node.isNull) Null
    else dt match {
      case _: DecimalType => node.decimalValue.stripTrailingZeros.toPlainString
      // JSON has no NaN or infinity: those arrive as strings
      case FloatType => if (node.isTextual) node.asText.toFloat.toString else node.floatValue.toString
      case DoubleType => if (node.isTextual) node.asText.toDouble.toString else node.doubleValue.toString
      case TimestampType => java.time.OffsetDateTime.parse(node.asText).toInstant.toString
      case BinaryType => hex(java.util.Base64.getDecoder.decode(node.asText))
      case _: ArrayType | _: MapType | _: StructType => node.toString
      case _ => node.asText
    }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  // --- the wires -----------------------------------------------------------
  private def withServers(f: (Int, String, HttpClient) => Unit): Unit = {
    val engine = new Engine(spark)
    val thrift = new ThriftFrontend(engine).start()
    val rest = new RestFrontend(engine, port = 0)
    val port = rest.start()
    try f(thrift.boundPort, s"http://localhost:$port", HttpClient.newHttpClient())
    finally { rest.stop(); thrift.stop() }
  }

  /** One Thrift page of `sql` at `proto`: column pages from V6 on, row
    * pages below.
    */
  private def thriftPage(port: Int, proto: TProtocolVersion, sql: String): TRowSet = {
    val sock = new TSocket("localhost", port)
    sock.open()
    try {
      val client = new TCLIService.Client(new TBinaryProtocol(sock))
      val open = new TOpenSessionReq()
      open.setClient_protocol(proto)
      val sess = client.OpenSession(open)
      val exec = client.ExecuteStatement(new TExecuteStatementReq(sess.getSessionHandle, sql))
      assert(exec.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS,
        String.valueOf(exec.getStatus.getErrorMessage))
      val page = client.FetchResults(new TFetchResultsReq(exec.getOperationHandle,
        TFetchOrientation.FETCH_NEXT, 1000))
      assert(page.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS,
        String.valueOf(page.getStatus.getErrorMessage))
      client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
      page.getResults
    } finally sock.close()
  }

  private def thriftColumns(rs: TRowSet): Seq[Seq[String]] = {
    val cols = rs.getColumns.asScala.toSeq.zip(schema.fields).map { case (col, f) =>
      def values[A](vs: java.util.List[A], nulls: Array[Byte]): Seq[Option[A]] =
        vs.asScala.toSeq.zipWithIndex.map { case (v, i) =>
          val isNull = i / 8 < nulls.length && (nulls(i / 8) & (1 << (i % 8))) != 0
          if (isNull) None else Some(v)
        }
      val cells: Seq[Option[String]] = col.getSetField match {
        case TColumn._Fields.BOOL_VAL => values(col.getBoolVal.getValues, col.getBoolVal.getNulls).map(_.map(_.toString))
        case TColumn._Fields.BYTE_VAL => values(col.getByteVal.getValues, col.getByteVal.getNulls).map(_.map(_.toString))
        case TColumn._Fields.I16_VAL => values(col.getI16Val.getValues, col.getI16Val.getNulls).map(_.map(_.toString))
        case TColumn._Fields.I32_VAL => values(col.getI32Val.getValues, col.getI32Val.getNulls).map(_.map(_.toString))
        case TColumn._Fields.I64_VAL => values(col.getI64Val.getValues, col.getI64Val.getNulls).map(_.map(_.toString))
        case TColumn._Fields.DOUBLE_VAL =>
          values(col.getDoubleVal.getValues, col.getDoubleVal.getNulls).map(_.map(_.toString))
            .map(_.map(fromText(_, f.dataType)))
        case TColumn._Fields.BINARY_VAL =>
          values(col.getBinaryVal.getValues, col.getBinaryVal.getNulls).map(_.map { bb =>
            val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); hex(a)
          })
        case TColumn._Fields.STRING_VAL =>
          values(col.getStringVal.getValues, col.getStringVal.getNulls).map(_.map(fromText(_, f.dataType)))
        case other => fail(s"unexpected column kind $other for ${f.name}")
      }
      cells.map(_.getOrElse(Null))
    }
    cols.transpose
  }

  private def thriftRows(rs: TRowSet): Seq[Seq[String]] =
    rs.getRows.asScala.toSeq.map(_.getColVals.asScala.toSeq.zip(schema.fields).map { case (v, f) =>
      val cell: Option[String] = v.getSetField match {
        case TColumnValue._Fields.BOOL_VAL => Option(v.getBoolVal).filter(_.isSetValue).map(_.isValue.toString)
        case TColumnValue._Fields.BYTE_VAL => Option(v.getByteVal).filter(_.isSetValue).map(_.getValue.toString)
        case TColumnValue._Fields.I16_VAL => Option(v.getI16Val).filter(_.isSetValue).map(_.getValue.toString)
        case TColumnValue._Fields.I32_VAL => Option(v.getI32Val).filter(_.isSetValue).map(_.getValue.toString)
        case TColumnValue._Fields.I64_VAL => Option(v.getI64Val).filter(_.isSetValue).map(_.getValue.toString)
        case TColumnValue._Fields.DOUBLE_VAL =>
          Option(v.getDoubleVal).filter(_.isSetValue).map(x => fromText(x.getValue.toString, f.dataType))
        case TColumnValue._Fields.STRING_VAL =>
          Option(v.getStringVal).filter(_.isSetValue).map(x => fromText(x.getValue, f.dataType))
        case other => fail(s"unexpected value kind $other for ${f.name}")
      }
      cell.getOrElse(Null)
    })

  private def post(c: HttpClient, url: String, body: String): String =
    c.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).body()
  private def get(c: HttpClient, url: String): String =
    c.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  /** Submit `sql` over REST and wait for it to finish: (session, operation). */
  private def restStatement(c: HttpClient, root: String, sql: String): (String, String) = {
    val sid = mapper.readTree(post(c, s"$root/api/v1/sessions", """{"user": "pager"}"""))
      .get("sessionId").asText
    val body = mapper.createObjectNode().put("sql", sql).toString
    val opId = mapper.readTree(post(c, s"$root/api/v1/sessions/$sid/statements", body))
      .get("operationId").asText
    var state = ""
    val deadline = System.nanoTime() + 60e9.toLong
    while (state != "FINISHED" && System.nanoTime() < deadline) {
      val st = mapper.readTree(get(c, s"$root/api/v1/sessions/$sid/statements/$opId"))
      state = st.get("state").asText
      assert(state != "ERROR", st.toString)
      if (state != "FINISHED") Thread.sleep(50)
    }
    assert(state == "FINISHED")
    (sid, opId)
  }

  /** The raw text of a REST page's "rows" array, between its brackets. */
  private def rowsText(page: String): String =
    page.substring(page.indexOf("\"rows\": [") + "\"rows\": [".length, page.lastIndexOf(']'))

  /** A JSON document's rows, read twice: exactly, and with doubles. */
  private def readRows(doc: String, key: String): Seq[(JsonNode, JsonNode)] = {
    def rows(m: ObjectMapper) = m.readTree(doc).get(key).elements().asScala.toSeq
    rows(mapper).zip(rows(doubles))
  }

  private def restCells(page: String): Seq[Seq[String]] =
    readRows(page, "rows").map { case (exact, binary) =>
      schema.fields.toSeq.map(f =>
        fromJson((if (floating(f.dataType)) binary else exact).get(f.name), f.dataType))
    }

  private def trino(c: HttpClient, root: String, sql: String): String = {
    var doc = post(c, s"$root/v1/statement", sql)
    var hops = 0
    while (mapper.readTree(doc).has("nextUri") && hops < 200) {
      Thread.sleep(50)
      doc = get(c, root + mapper.readTree(doc).get("nextUri").asText)
      hops += 1
    }
    assert(mapper.readTree(doc).get("stats").get("state").asText == "FINISHED", doc)
    doc
  }

  private def trinoCells(doc: String): Seq[Seq[String]] =
    readRows(doc, "data").map { case (exact, binary) =>
      schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val v = (if (floating(f.dataType)) binary else exact).get(i)
        if (v.isNull) Null
        else if (v.isTextual) fromText(v.asText, f.dataType)
        else fromText(v.toString, f.dataType)
      }
    }

  test("every wire renders the type matrix alike") {
    withServers { (thriftPort, root, c) =>
      val columns = thriftColumns(thriftPage(thriftPort,
        TProtocolVersion.HIVE_CLI_SERVICE_PROTOCOL_V10, matrixSql))
      val rowPage = thriftPage(thriftPort, TProtocolVersion.HIVE_CLI_SERVICE_PROTOCOL_V5, matrixSql)
      val rows = thriftRows(rowPage)
      val (sid, opId) = restStatement(c, root, matrixSql)
      val rowset = restCells(get(c, s"$root/api/v1/operations/$opId/rowset?maxrows=10"))
      val result = restCells(get(c, s"$root/api/v1/sessions/$sid/statements/$opId/result?offset=0"))
      val trinoDoc = trino(c, root, matrixSql)
      val data = trinoCells(trinoDoc)

      val expected = Seq(
        Seq("true", "1", "2", "3", "4", "1.5", "2.25", "0", "x", "2026-01-02",
          "2026-01-02T03:04:05.123Z", "616263", "[1,2]", """{"k":1}""", """{"a":1,"b":"q"}"""),
        Seq("false", "-1", "-2", "-3", "-4", "-0.25", "-1.0E10", "12345.678",
          "he said \"hi\"\n\ttab", "1999-12-31", "1999-12-31T23:59:59Z", "", "[3]",
          """{"z":2}""", """{"a":2,"b":"r"}""")) ++
        nonFinite.map { case (i, f, d) =>
          Seq("true", "1", "2", i.toString, "4", f, d, "0", "x", "2026-01-02",
            "2026-01-02T03:04:05.123Z", "616263", "[1,2]", """{"k":1}""", """{"a":1,"b":"q"}""")
        } :+ Seq.fill(schema.length)(Null)
      assert(columns == expected, "Thrift column pages")
      assert(rows == expected, "Thrift row pages")
      assert(result == expected, "REST /result")
      assert(rowset == expected, "REST /rowset")
      assert(data == expected, "Trino data")

      // the text renderings themselves: complex values as HiveServer2
      // text, BINARY as its bytes, DECIMAL in plain notation
      val strings = rowPage.getRows.get(0).getColVals.asScala.map(v =>
        if (v.isSetStringVal) v.getStringVal.getValue else null).toSeq
      assert(strings.slice(7, 8) == Seq("0.000000000000000000"))
      assert(strings.slice(11, 15) == Seq("abc", "[1,2]", """{"k":1}""", """{"a":1,"b":"q"}"""))
      assert(trinoDoc.contains("""[true,1,2,3,4,1.5,2.25,0.000000000000000000,"x","""), trinoDoc)
      assert(trinoDoc.contains(""""abc","[1,2]","{\"k\":1}","{\"a\":1,\"b\":\"q\"}"]"""), trinoDoc)
    }
  }

  test("REST pages are Dataset.toJSON bytes and page a finished result with no Spark job") {
    withServers { (_, root, c) =>
      // byte-identical to what Dataset.toJSON writes, on both routes
      val reference = spark.sql(matrixSql).toJSON.collect().mkString(",")
      val (sid, opId) = restStatement(c, root, matrixSql)
      assert(rowsText(get(c, s"$root/api/v1/operations/$opId/rowset?maxrows=10")) == reference)
      assert(rowsText(get(c, s"$root/api/v1/sessions/$sid/statements/$opId/result?offset=0")) == reference)

      val n = 25000
      val (sid2, op2) = restStatement(c, root, s"SELECT id, CAST(id AS STRING) AS s FROM range($n)")
      val jobs = new ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          jobs.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        def page() = mapper.readTree(get(c, s"$root/api/v1/operations/$op2/rowset?maxrows=10000"))
          .get("rowCount").asInt
        var paged = 0
        var rows = page()
        while (rows > 0) { paged += rows; rows = page() }
        assert(paged == n)
        val ids = (0 until n by 10000).flatMap(off => mapper.readTree(get(c,
          s"$root/api/v1/sessions/$sid2/statements/$op2/result?maxRows=10000&offset=$off"))
          .get("rows").elements().asScala.map(_.get("id").asLong))
        assert(ids == (0L until n))
        // the listener bus is ordered: once a marker job is seen, every
        // job started while paging has been seen too
        val marker = "result-path-marker"
        spark.sparkContext.setJobGroup(marker, marker)
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.clearJobGroup()
        val deadline = System.nanoTime() + 30e9.toLong
        while (!jobs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
        assert(jobs.contains(marker))
        assert(jobs.asScala.filterNot(_ == marker).isEmpty,
          s"paging ran Spark jobs in groups ${jobs.asScala.mkString(",")}")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }
}
