package graft.server

import java.sql.{DriverManager, Types}

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.core.Engine

/** End-to-end wire test: the stock HiveServer2 JDBC driver (shipped in
  * /opt/spark/jars) connects to [[ThriftFrontend]] over a real TCP
  * socket and runs statements — the same client a user would point at
  * the reference gateway.
  */
class ThriftFrontendSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val engine = new Engine(SparkFixture.spark)
  private var frontend: ThriftFrontend = _
  private def url = s"jdbc:hive2://localhost:${frontend.boundPort}/;auth=noSasl"

  override def beforeAll(): Unit = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    frontend = new ThriftFrontend(engine).start()
  }

  override def afterAll(): Unit = if (frontend != null) frontend.stop()

  test("JDBC client executes a query and reads typed columns") {
    val conn = DriverManager.getConnection(url, "alice", "")
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT 42 AS i, CAST(7 AS BIGINT) AS l, 1.5D AS d,
          |CAST(12.34 AS DECIMAL(10,2)) AS dec,
          |'hello' AS s, true AS b,
          |DATE '2020-01-02' AS dt,
          |TIMESTAMP '2020-01-02 03:04:05' AS ts,
          |CAST(NULL AS INT) AS n""".stripMargin)
      assert(rs.next())
      assert(rs.getInt("i") == 42)
      assert(rs.getLong("l") == 7L)
      assert(rs.getDouble("d") == 1.5)
      assert(rs.getBigDecimal("dec").toPlainString == "12.34")
      assert(rs.getString("s") == "hello")
      assert(rs.getBoolean("b"))
      assert(rs.getDate("dt").toString == "2020-01-02")
      assert(rs.getTimestamp("ts").toString.startsWith("2020-01-02 03:04:05"))
      rs.getInt("n")
      assert(rs.wasNull())
      assert(!rs.next())
    } finally conn.close()
  }

  test("result-set metadata carries JDBC types and decimal precision") {
    val conn = DriverManager.getConnection(url, "alice", "")
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT CAST(1.5 AS DECIMAL(12,3)) AS dec, 'x' AS s, 1 AS i")
      val md = rs.getMetaData
      assert(md.getColumnCount == 3)
      assert(md.getColumnType(1) == Types.DECIMAL)
      assert(md.getPrecision(1) == 12 && md.getScale(1) == 3)
      assert(md.getColumnType(2) == Types.VARCHAR)
      assert(md.getColumnType(3) == Types.INTEGER)
    } finally conn.close()
  }

  test("session state persists across statements on one connection") {
    val conn = DriverManager.getConnection(url, "bob", "")
    try {
      val st = conn.createStatement()
      st.execute(
        s"CREATE OR REPLACE TEMPORARY VIEW thrift_nation AS " +
          s"SELECT * FROM parquet.`${SparkFixture.sfDir}/nation.parquet`")
      val rs = st.executeQuery("SELECT count(*) AS n FROM thrift_nation")
      assert(rs.next() && rs.getLong("n") == 25L)
    } finally conn.close()
  }

  test("multi-row results page through fetch correctly") {
    val conn = DriverManager.getConnection(url, "alice", "")
    try {
      val st = conn.createStatement()
      st.setFetchSize(7)
      val rs = st.executeQuery(
        "SELECT id FROM range(100) ORDER BY id")
      var expected = 0L
      while (rs.next()) {
        assert(rs.getLong("id") == expected)
        expected += 1
      }
      assert(expected == 100L)
    } finally conn.close()
  }

  test("per-session engine UDFs answer over the wire") {
    val conn = DriverManager.getConnection(url, "carol", "")
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT session_user() AS u, engine_name() AS e")
      assert(rs.next())
      assert(rs.getString("u") == "carol")
      assert(rs.getString("e") == "graft-spark-engine")
    } finally conn.close()
  }

  test("statement errors surface as SQLExceptions") {
    val conn = DriverManager.getConnection(url, "alice", "")
    try {
      intercept[java.sql.SQLException] {
        conn.createStatement().executeQuery("SELECT * FROM graft_no_such_table")
      }
    } finally conn.close()
  }

  test("concurrent connections keep isolated sessions under load") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val work = (0 until 8).map { i =>
        Future {
          val conn = DriverManager.getConnection(url, s"user$i", "")
          try {
            val st = conn.createStatement()
            // session-scoped view named identically on every connection:
            // isolation means each sees its own
            st.execute(s"CREATE OR REPLACE TEMPORARY VIEW conc_v AS SELECT $i AS me")
            val rs = st.executeQuery(
              s"SELECT me, session_user() AS u, (SELECT sum(id) FROM range(${1000 * (i + 1)})) AS s FROM conc_v")
            assert(rs.next())
            assert(rs.getInt("me") == i)
            assert(rs.getString("u") == s"user$i")
            assert(rs.getLong("s") == 1000L * (i + 1) * (1000L * (i + 1) - 1) / 2)
          } finally conn.close()
        }
      }
      Await.result(Future.sequence(work), 120.seconds)
    } finally pool.shutdown()
  }

  test("beeline (the reference's CLI) connects and runs a query") {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream, PrintStream}
    val out = new ByteArrayOutputStream()
    val beeline = new org.apache.hive.beeline.BeeLine()
    beeline.setOutputStream(new PrintStream(out))
    beeline.setErrorStream(new PrintStream(new ByteArrayOutputStream()))
    try {
      val rc = beeline.begin(Array(
        "-u", url, "-n", "dave", "--silent=true", "--outputformat=csv2",
        "-e", "SELECT 6 * 7 AS answer, session_user() AS u"),
        new ByteArrayInputStream(Array.emptyByteArray))
      val printed = out.toString
      assert(rc == 0, s"beeline rc=$rc output:\n$printed")
      assert(printed.contains("42,dave"), s"unexpected beeline output:\n$printed")
    } finally beeline.close()
  }

  test("catalog metadata flows through DatabaseMetaData") {
    val conn = DriverManager.getConnection(url, "alice", "")
    try {
      val schemas = conn.getMetaData.getSchemas
      var sawDefault = false
      while (schemas.next())
        sawDefault |= schemas.getString(1) == "default"
      assert(sawDefault)
    } finally conn.close()
  }

  test("metadata patterns honor the '_' single-char wildcard and escapes") {
    val conn = DriverManager.getConnection(url, "alice", "")
    try {
      // 'defaul_' must match exactly "default"; 'defaul\_' (escaped)
      // must match a literal underscore, so nothing here.
      val md = conn.getMetaData
      val hit = md.getSchemas(null, "defaul_")
      assert(hit.next() && hit.getString(1) == "default")
      val miss = md.getSchemas(null, "defaul\\_")
      assert(!miss.next())

      // through the connection: engine sessions do not see views created
      // later on other sessions
      conn.createStatement().execute(
        "CREATE OR REPLACE TEMPORARY VIEW thrift_pat_v AS SELECT 1 AS c1")
      val tbl = md.getTables(null, null, "thrift_pat__", null)
      var names = List.empty[String]
      while (tbl.next()) names ::= tbl.getString(3)
      assert(names.contains("thrift_pat_v"), s"saw $names")
      val cols = md.getColumns(null, null, "thrift_pat__", null)
      assert(cols.next() && cols.getString("COLUMN_NAME") == "c1")
    } finally conn.close()
  }

  test("runAsync returns before completion; status polling observes the finish") {
    // Drive the TCLIService interface directly (the JDBC client hides
    // the async handshake): ExecuteStatement with runAsync must return
    // while the statement is still running, and GetOperationStatus
    // must eventually report FINISHED with fetchable results.
    import org.apache.hive.service.rpc.thrift._
    import org.apache.thrift.protocol.TBinaryProtocol
    import org.apache.thrift.transport.TSocket
    val sock = new TSocket("localhost", frontend.boundPort)
    sock.open()
    try {
      val client = new TCLIService.Client(new TBinaryProtocol(sock))
      val sess = client.OpenSession(new TOpenSessionReq())
      assert(sess.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      val req = new TExecuteStatementReq(sess.getSessionHandle,
        "SELECT 64 AS n FROM (SELECT count(*) FROM range(50000000) WHERE xxhash64(cast(id AS string)) % 3 >= 0)")
      req.setRunAsync(true)
      val t0 = System.nanoTime()
      val exec = client.ExecuteStatement(req)
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(exec.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      assert(elapsedMs < 1500, s"async ExecuteStatement blocked ${elapsedMs}ms")
      var state = TOperationState.INITIALIZED_STATE
      val deadline = System.nanoTime() + 60e9.toLong
      while (state != TOperationState.FINISHED_STATE && System.nanoTime() < deadline) {
        val st = client.GetOperationStatus(
          new TGetOperationStatusReq(exec.getOperationHandle))
        assert(st.getOperationState != TOperationState.ERROR_STATE,
          String.valueOf(st.getErrorMessage))
        state = st.getOperationState
        if (state != TOperationState.FINISHED_STATE) Thread.sleep(50)
      }
      assert(state == TOperationState.FINISHED_STATE)
      // maxRows = Long.MaxValue ("all rows") must not overflow the page
      // size into 1-row round-trips
      val fr = new TFetchResultsReq(exec.getOperationHandle,
        TFetchOrientation.FETCH_NEXT, Long.MaxValue)
      val page = client.FetchResults(fr)
      assert(page.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      val col = page.getResults.getColumns.get(0).getI32Val.getValues
      assert(col.size == 1 && col.get(0) == 64)
      client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
    } finally sock.close()
  }

  test("a V5 client gets row-based TRowSet pages with typed values and nulls") {
    // Old Hive JDBC drivers (protocol < V6) cannot decode TColumn
    // pages; the server must negotiate down and serve TRow/TColumnValue
    // (reference kyuubi-common TRowSetGenerator.toRowBasedSet).
    import org.apache.hive.service.rpc.thrift._
    import org.apache.thrift.protocol.TBinaryProtocol
    import org.apache.thrift.transport.TSocket
    val sock = new TSocket("localhost", frontend.boundPort)
    sock.open()
    try {
      val client = new TCLIService.Client(new TBinaryProtocol(sock))
      val open = new TOpenSessionReq()
      open.setClient_protocol(TProtocolVersion.HIVE_CLI_SERVICE_PROTOCOL_V5)
      val sess = client.OpenSession(open)
      assert(sess.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      assert(sess.getServerProtocolVersion == TProtocolVersion.HIVE_CLI_SERVICE_PROTOCOL_V5)
      val exec = client.ExecuteStatement(new TExecuteStatementReq(sess.getSessionHandle,
        "SELECT * FROM VALUES (1, 'a', 1.5D, true), (2, CAST(NULL AS STRING), CAST(NULL AS DOUBLE), false) AS t(i, s, d, b) ORDER BY i"))
      assert(exec.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      val page = client.FetchResults(new TFetchResultsReq(exec.getOperationHandle,
        TFetchOrientation.FETCH_NEXT, 100))
      assert(page.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      val rs = page.getResults
      assert(!rs.isSetColumns || rs.getColumns == null || rs.getColumns.isEmpty,
        "V5 page must not carry column-based data")
      val rows = rs.getRows
      assert(rows.size == 2)
      val r0 = rows.get(0).getColVals
      assert(r0.get(0).getI32Val.getValue == 1)
      assert(r0.get(1).getStringVal.getValue == "a")
      assert(r0.get(2).getDoubleVal.getValue == 1.5)
      assert(r0.get(3).getBoolVal.isValue)
      val r1 = rows.get(1).getColVals
      assert(r1.get(0).getI32Val.getValue == 2)
      assert(!r1.get(1).getStringVal.isSetValue, "NULL string must be an unset value")
      assert(!r1.get(2).getDoubleVal.isSetValue, "NULL double must be an unset value")
      client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
    } finally sock.close()
  }

  test("JDBC URL database and conf segments apply to the session") {
    SparkFixture.spark.sql("CREATE DATABASE IF NOT EXISTS graft_conf_db")
    val conn = DriverManager.getConnection(
      s"jdbc:hive2://localhost:${frontend.boundPort}/graft_conf_db;auth=noSasl" +
        "?spark.sql.shuffle.partitions=7")
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT current_database() AS db, CAST(7 AS INT) AS x")
      assert(rs.next() && rs.getString("db") == "graft_conf_db")
      val rs2 = conn.createStatement().executeQuery("SET spark.sql.shuffle.partitions")
      assert(rs2.next() && rs2.getString(2) == "7",
        "hiveconf segment should set the session conf")
    } finally {
      conn.close()
      SparkFixture.spark.sql("DROP DATABASE IF EXISTS graft_conf_db")
    }
  }

  test("a bad database in the JDBC URL fails the connection") {
    intercept[java.sql.SQLException] {
      DriverManager.getConnection(
        s"jdbc:hive2://localhost:${frontend.boundPort}/graft_no_such_db_xyz;auth=noSasl")
    }
  }

  test("GetOperationStatus returns stage progress when asked") {
    import org.apache.hive.service.rpc.thrift._
    import org.apache.thrift.protocol.TBinaryProtocol
    import org.apache.thrift.transport.TSocket
    val sock = new TSocket("localhost", frontend.boundPort)
    sock.open()
    try {
      val client = new TCLIService.Client(new TBinaryProtocol(sock))
      val sess = client.OpenSession(new TOpenSessionReq())
      val req = new TExecuteStatementReq(sess.getSessionHandle,
        "SELECT count(*) FROM (SELECT xxhash64(cast(id AS string)) h FROM range(20000000)) WHERE h % 7 = 0")
      req.setRunAsync(true)
      val exec = client.ExecuteStatement(req)
      var state = TOperationState.INITIALIZED_STATE
      var sawProgress = false
      val deadline = System.nanoTime() + 60e9.toLong
      while (state != TOperationState.FINISHED_STATE && System.nanoTime() < deadline) {
        val sreq = new TGetOperationStatusReq(exec.getOperationHandle)
        sreq.setGetProgressUpdate(true)
        val st = client.GetOperationStatus(sreq)
        assert(st.getProgressUpdateResponse != null, "progress update missing")
        if (st.getProgressUpdateResponse.getStatus == TJobExecutionStatus.IN_PROGRESS) {
          sawProgress = true
        }
        state = st.getOperationState
        if (state != TOperationState.FINISHED_STATE) Thread.sleep(30)
      }
      assert(state == TOperationState.FINISHED_STATE)
      val sreq = new TGetOperationStatusReq(exec.getOperationHandle)
      sreq.setGetProgressUpdate(true)
      val fin = client.GetOperationStatus(sreq)
      assert(fin.getProgressUpdateResponse.getStatus == TJobExecutionStatus.COMPLETE)
      assert(fin.getProgressUpdateResponse.getProgressedPercentage == 1.0)
      assert(sawProgress, "never observed an in-progress update while running")
      client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
    } finally sock.close()
  }

  test("operation.result.max.rows bounds the collect per session") {
    import org.apache.hive.service.rpc.thrift._
    import org.apache.thrift.protocol.TBinaryProtocol
    import org.apache.thrift.transport.TSocket
    val sock = new TSocket("localhost", frontend.boundPort)
    sock.open()
    try {
      val client = new TCLIService.Client(new TBinaryProtocol(sock))
      val open = new TOpenSessionReq()
      open.setConfiguration(Map("kyuubi.operation.result.max.rows" -> "3").asJava)
      val sess = client.OpenSession(open)
      val exec = client.ExecuteStatement(new TExecuteStatementReq(
        sess.getSessionHandle, "SELECT id FROM range(10)"))
      val page = client.FetchResults(new TFetchResultsReq(exec.getOperationHandle,
        TFetchOrientation.FETCH_NEXT, 100))
      assert(page.getResults.getColumns.get(0).getI64Val.getValues.size() == 3,
        "bounded collect should cap the result at 3 rows")
      client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
    } finally sock.close()
  }

  test("operation.result.format=arrow serves IPC record batches over the wire") {
    import org.apache.hive.service.rpc.thrift._
    import org.apache.thrift.protocol.TBinaryProtocol
    import org.apache.thrift.transport.TSocket
    val sock = new TSocket("localhost", frontend.boundPort)
    sock.open()
    try {
      val client = new TCLIService.Client(new TBinaryProtocol(sock))
      val open = new TOpenSessionReq()
      open.setConfiguration(Map("kyuubi.operation.result.format" -> "arrow").asJava)
      val sess = client.OpenSession(open)
      val sql = "SELECT id, id * 2 AS twice FROM range(7)"
      val exec = client.ExecuteStatement(new TExecuteStatementReq(sess.getSessionHandle, sql))
      assert(exec.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS,
        String.valueOf(exec.getStatus.getErrorMessage))
      // schema still negotiable for decoding
      val md = client.GetResultSetMetadata(new TGetResultSetMetadataReq(exec.getOperationHandle))
      assert(md.getSchema.getColumns.size() == 2)
      val page = client.FetchResults(new TFetchResultsReq(exec.getOperationHandle,
        TFetchOrientation.FETCH_NEXT, 100))
      assert(page.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      val blobs = page.getResults.getColumns.get(0).getBinaryVal.getValues
      assert(!blobs.isEmpty, "expected at least one arrow batch")
      val batches = blobs.asScala.map { bb =>
        val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
      }.toSeq
      val n = org.apache.spark.sql.graft.ArrowHelper.rowCount(
        batches, SparkFixture.spark.sql(sql))
      assert(n == 7, s"decoded $n rows from arrow batches")
      client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
    } finally sock.close()
  }

  test("FetchResults with fetchType=1 returns the operation log") {
    import org.apache.hive.service.rpc.thrift._
    import org.apache.thrift.protocol.TBinaryProtocol
    import org.apache.thrift.transport.TSocket
    val sock = new TSocket("localhost", frontend.boundPort)
    sock.open()
    try {
      val client = new TCLIService.Client(new TBinaryProtocol(sock))
      val sess = client.OpenSession(new TOpenSessionReq())
      val exec = client.ExecuteStatement(
        new TExecuteStatementReq(sess.getSessionHandle, "SELECT 1 AS one"))
      assert(exec.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      val logReq = new TFetchResultsReq(exec.getOperationHandle,
        TFetchOrientation.FETCH_NEXT, 1000)
      logReq.setFetchType(1)
      val logPage = client.FetchResults(logReq)
      assert(logPage.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      val lines = logPage.getResults.getColumns.get(0).getStringVal.getValues
      assert(!lines.isEmpty, "state transitions should have produced log lines")
      assert(lines.asScala.exists(_.contains("-> FINISHED")),
        s"got ${lines.asScala.mkString(" | ")}")
      // the log fetch is incremental: a second drain returns nothing new
      val again = client.FetchResults(logReq)
      assert(again.getResults.getColumns.get(0).getStringVal.getValues.isEmpty)
      // fetchType=0 still returns the query result afterwards
      val rr = client.FetchResults(new TFetchResultsReq(exec.getOperationHandle,
        TFetchOrientation.FETCH_NEXT, 10))
      assert(rr.getResults.getColumns.get(0).getI32Val.getValues.get(0) == 1)
      client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
    } finally sock.close()
  }

  test("GetPrimaryKeys/GetCrossReference serve DSv2 constraint metadata over the wire") {
    // the tpch catalog's tables declare the spec's informational keys
    val conn = DriverManager.getConnection(url +
      s"?spark.sql.catalog.tpch=${classOf[graft.sources.tpch.TpchCatalog].getName}")
    try {
      val md = conn.getMetaData
      val pks = md.getPrimaryKeys("tpch", "tiny", "lineitem")
      val pkCols = Iterator.continually(pks)
        .takeWhile(_.next()).map(r => (r.getString("COLUMN_NAME"), r.getInt("KEY_SEQ"))).toSeq
      assert(pkCols == Seq(("l_orderkey", 1), ("l_linenumber", 2)),
        s"composite PK in declaration order: $pkCols")

      val fks = md.getCrossReference("tpch", "tiny", "orders", "tpch", "tiny", "lineitem")
      assert(fks.next())
      assert(fks.getString("PKTABLE_NAME") == "orders")
      assert(fks.getString("PKCOLUMN_NAME") == "o_orderkey")
      assert(fks.getString("FKTABLE_NAME") == "lineitem")
      assert(fks.getString("FKCOLUMN_NAME") == "l_orderkey")
      assert(fks.getString("FK_NAME") == "lineitem_orders_fk")
      assert(!fks.next(), "only the orders FK matches the parent filter")

      // V1 session-catalog tables expose no constraint metadata → empty
      val none = md.getPrimaryKeys(null, "default", "graft_conf_db_missing")
      assert(!none.next())
    } finally conn.close()
  }

  test("client-asserted graft.server.* conf never reaches the group provider") {
    // End-to-end over the wire: advisedConf strips graft.server.* from
    // the map it returns, but the frontend used to merge the overlay
    // back into the RAW client conf — resurrecting a self-asserted
    // graft.server.session.group and letting the client spoof its way
    // into another group's shared engine (r10 ADVICE, high).
    import org.apache.hive.service.rpc.thrift._
    import org.apache.thrift.protocol.TBinaryProtocol
    import org.apache.thrift.transport.TSocket
    import graft.core.{ConfGroupProvider, GroupProvider, ShareLevel}
    val groupEngine = new Engine(SparkFixture.spark, shareLevel = ShareLevel.Group,
      singleSession = true,
      groupProvider = GroupProvider.load(classOf[ConfGroupProvider].getName))
    val fe = new ThriftFrontend(groupEngine).start()
    try {
      val sock = new TSocket("localhost", fe.boundPort)
      sock.open()
      try {
        val client = new TCLIService.Client(new TBinaryProtocol(sock))
        val open = new TOpenSessionReq()
        open.setUsername("eve@corp")
        // bare key AND the hiveconf-prefixed variant the JDBC URL ?conf
        // segment produces — both must be dropped before the provider
        open.setConfiguration(Map(
          "graft.server.session.group" -> "data-eng",
          "set:hiveconf:graft.server.session.groups" -> "data-eng,oncall").asJava)
        val sess = client.OpenSession(open)
        assert(sess.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
        // the engine space is keyed by the provider's fallback
        // (user-prefix), never the client-asserted group
        assert(groupEngine.engineSpaces == Seq("group/eve"),
          s"spoofed group reached shareKey: ${groupEngine.engineSpaces}")
        // and the authz identity published to the session shows no
        // spoofed membership either
        val es = groupEngine.openSessions.head
        assert(es.spark.conf.get("spark.graft.authz.groups") == "eve")
        client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
      } finally sock.close()
    } finally { fe.stop(); groupEngine.close() }
  }

  // A statement that cannot finish inside the test's timeout budget:
  // a 10^12-product cross range whose job group the timeout monitor
  // cancels (interruptOnCancel kills running tasks mid-stage).
  private val runawaySql =
    "SELECT max(a.id * b.id) FROM range(1000000) a CROSS JOIN range(1000000) b"

  test("client Statement.setQueryTimeout cancels a runaway statement (HIVE-4924)") {
    val conn = DriverManager.getConnection(url, "alice", "")
    try {
      val stmt = conn.createStatement()
      stmt.setQueryTimeout(1)
      val t0 = System.nanoTime()
      val e = intercept[java.sql.SQLException] { stmt.executeQuery(runawaySql) }
      val elapsedS = (System.nanoTime() - t0) / 1e9
      // Hive JDBC maps TIMEDOUT_STATE to SQLTimeoutException("Query
      // timed out after N seconds"); either way the statement must die
      // near the 1s mark, not run the full cross join.
      assert(e.getMessage.toLowerCase.contains("timed out"), e.getMessage)
      assert(elapsedS < 30, s"timeout took ${elapsedS}s")
      // the session survives a timed-out operation
      val rs = conn.createStatement().executeQuery("SELECT 11 AS ok")
      assert(rs.next() && rs.getInt("ok") == 11)
      // and the timeout monitor leaves no orphan jobs burning (the
      // cancel-vs-submission race: cancelJobGroupAndFutureJobs + the
      // post-submitter backstop in Operation.run)
      val tracker = graft.SparkFixture.spark.sparkContext.statusTracker
      val drain = System.nanoTime() + 60e9.toLong
      while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < drain)
        Thread.sleep(100)
      assert(tracker.getActiveJobIds().isEmpty, "timed-out statement left orphan jobs")
    } finally conn.close()
  }

  test("server-side operation.query.timeout cap arms without a client timeout") {
    // reference kyuubi.operation.query.timeout: a session-conf cap that
    // times out runaway statements even when the client sets none.
    val conn = DriverManager.getConnection(
      s"jdbc:hive2://localhost:${frontend.boundPort}/;auth=noSasl" +
        "?graft.operation.query.timeout=1500")
    try {
      // fast statements are untouched by the cap
      val rs = conn.createStatement().executeQuery("SELECT 5 AS ok")
      assert(rs.next() && rs.getInt("ok") == 5)
      val e = intercept[java.sql.SQLException] {
        conn.createStatement().executeQuery(runawaySql)
      }
      assert(e.getMessage.toLowerCase.contains("timed out"), e.getMessage)
    } finally conn.close()
  }

  test("a timed-out op reports CANCELED to pre-HIVE-4924 clients (protocol <= V8)") {
    // Clients below Hive 2.1 have no TIMEDOUT status and would hang on
    // an unknown state — the server must downgrade to CANCELED for them
    // (reference AbstractOperation.addTimeoutMonitor).
    import org.apache.hive.service.rpc.thrift._
    import org.apache.thrift.protocol.TBinaryProtocol
    import org.apache.thrift.transport.TSocket
    val sock = new TSocket("localhost", frontend.boundPort)
    sock.open()
    try {
      val client = new TCLIService.Client(new TBinaryProtocol(sock))
      val open = new TOpenSessionReq()
      open.setClient_protocol(TProtocolVersion.HIVE_CLI_SERVICE_PROTOCOL_V8)
      open.setConfiguration(Map("graft.operation.query.timeout" -> "1000").asJava)
      val sess = client.OpenSession(open)
      assert(sess.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      val req = new TExecuteStatementReq(sess.getSessionHandle, runawaySql)
      req.setRunAsync(true)
      val exec = client.ExecuteStatement(req)
      assert(exec.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      var state = TOperationState.INITIALIZED_STATE
      val deadline = System.nanoTime() + 60e9.toLong
      while (state != TOperationState.CANCELED_STATE && System.nanoTime() < deadline) {
        val st = client.GetOperationStatus(
          new TGetOperationStatusReq(exec.getOperationHandle))
        state = st.getOperationState
        assert(state != TOperationState.TIMEDOUT_STATE,
          "V8 client must never see TIMEDOUT_STATE")
        assert(state != TOperationState.ERROR_STATE, String.valueOf(st.getErrorMessage))
        if (state != TOperationState.CANCELED_STATE) Thread.sleep(50)
      }
      assert(state == TOperationState.CANCELED_STATE)
      client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
    } finally sock.close()
  }

  test("operation.scheduler.pool lands statements in the named FAIR pool") {
    // reference kyuubi.operation.scheduler.pool → spark.scheduler.pool
    // local property per statement (SparkOperation.scala:172); observe
    // the pool on the submitted Spark jobs via a listener.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val pools = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = js.properties.getProperty("spark.scheduler.pool")
        if (p != null) pools.add(p)
      }
    }
    graft.SparkFixture.spark.sparkContext.addSparkListener(listener)
    try {
      val conn = DriverManager.getConnection(
        s"jdbc:hive2://localhost:${frontend.boundPort}/;auth=noSasl" +
          "?graft.operation.scheduler.pool=tenant_a")
      try {
        val rs = conn.createStatement().executeQuery(
          "SELECT sum(id) AS s FROM range(100000)")
        assert(rs.next() && rs.getLong("s") > 0)
      } finally conn.close()
      // listener events are async — poll briefly
      val deadline = System.nanoTime() + 10e9.toLong
      while (!pools.asScala.contains("tenant_a") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(pools.asScala.contains("tenant_a"),
        s"no job ran in pool tenant_a: ${pools.asScala.toList}")
    } finally graft.SparkFixture.spark.sparkContext.removeSparkListener(listener)
  }

  test("hive.server2.proxy.user impersonation is gated on proxy privilege") {
    import graft.core.Events
    val audits = new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    val auditTap: Events.Handler = {
      case Events.SessionEvent(sid, who, "IMPERSONATED", _) => audits.add(sid -> who)
      case _ => ()
    }
    Events.register(auditTap)
    val fe = new ThriftFrontend(engine, proxyPrivileged = Set("svc")).start()
    try {
      val u = s"jdbc:hive2://localhost:${fe.boundPort}/" +
        ";auth=noSasl;hive.server2.proxy.user=bob"
      // a proxy-privileged account impersonates: the SESSION user — what
      // session_user() and the authz identity see — is the target
      val conn = DriverManager.getConnection(u, "svc", "")
      try {
        val rs = conn.createStatement().executeQuery("SELECT session_user() AS u")
        assert(rs.next() && rs.getString("u") == "bob")
      } finally conn.close()
      // the privilege use left an audit event naming the REAL user
      assert(audits.asScala.exists(_._2 == "svc"),
        s"impersonation must audit the invoking identity: ${audits.asScala.toList}")
      // an unprivileged account is rejected at OpenSession
      val e = intercept[java.sql.SQLException] {
        DriverManager.getConnection(u, "mallory", "")
      }
      assert(e.getMessage.contains("impersonate"), e.getMessage)
      // proxying to yourself needs no privilege (reference behavior)
      val self = DriverManager.getConnection(
        s"jdbc:hive2://localhost:${fe.boundPort}/" +
          ";auth=noSasl;hive.server2.proxy.user=mallory", "mallory", "")
      try {
        val rs = self.createStatement().executeQuery("SELECT session_user() AS u")
        assert(rs.next() && rs.getString("u") == "mallory")
      } finally self.close()
      // self-proxy is not an impersonation — no audit event for mallory
      assert(!audits.asScala.exists(_._2 == "mallory"), audits.asScala.toList)
    } finally { fe.stop(); graft.core.Events.unregister(auditTap) }
  }

  test("per-user connection limit rejects the (N+1)th session and frees on close") {
    val fe = new ThriftFrontend(engine, maxConnectionsPerUser = 2).start()
    try {
      val u = s"jdbc:hive2://localhost:${fe.boundPort}/;auth=noSasl"
      val c1 = DriverManager.getConnection(u, "carol", "")
      val c2 = DriverManager.getConnection(u, "carol", "")
      try {
        val e = intercept[java.sql.SQLException] {
          DriverManager.getConnection(u, "carol", "")
        }
        assert(e.getMessage.toLowerCase.contains("connection limit"), e.getMessage)
        // another user is unaffected by carol's quota
        DriverManager.getConnection(u, "dave", "").close()
      } finally c1.close()
      // closing a session frees the slot
      DriverManager.getConnection(u, "carol", "").close()
      c2.close()
    } finally fe.stop()
  }

  test("connection-limit family: deny list, unlimited list, per-IP cap") {
    // reference KyuubiConf.scala:3487-3529 +
    // SessionLimiterWithAccessControlListImpl: deny rejects always,
    // unlimited bypasses every cap, the per-IP cap counts across users.
    val fe = new ThriftFrontend(engine,
      maxConnectionsPerUser = 1,
      maxConnectionsPerIp = 3,
      unlimitedUsers = Set("svc"),
      denyUsers = Set("badguy")).start()
    try {
      val u = s"jdbc:hive2://localhost:${fe.boundPort}/;auth=noSasl"
      // denied user rejected at open, reference error shape
      val e = intercept[java.sql.SQLException] {
        DriverManager.getConnection(u, "badguy", "")
      }
      assert(e.getMessage.contains("deny user list"), e.getMessage)
      // unlimited user bypasses the per-user cap (4 concurrent vs 1)
      // and does not eat per-IP headroom
      val svc = (1 to 4).map(_ => DriverManager.getConnection(u, "svc", ""))
      // per-IP cap: three distinct users from 127.0.0.1 fill it…
      val a = DriverManager.getConnection(u, "ip1", "")
      val b = DriverManager.getConnection(u, "ip2", "")
      val c = DriverManager.getConnection(u, "ip3", "")
      val e2 = intercept[java.sql.SQLException] {
        DriverManager.getConnection(u, "ip4", "")
      }
      assert(e2.getMessage.contains("per ipaddress"), e2.getMessage)
      // …and a close frees one IP slot for the next user
      a.close()
      DriverManager.getConnection(u, "ip4", "").close()
      b.close(); c.close(); svc.foreach(_.close())
    } finally fe.stop()
  }

  test("per-user:IP cap is keyed on the pair, not either dimension alone") {
    val fe = new ThriftFrontend(engine, maxConnectionsPerUserIp = 1).start()
    try {
      val u = s"jdbc:hive2://localhost:${fe.boundPort}/;auth=noSasl"
      val c1 = DriverManager.getConnection(u, "erin", "")
      val e = intercept[java.sql.SQLException] {
        DriverManager.getConnection(u, "erin", "")
      }
      assert(e.getMessage.contains("user:ipaddress"), e.getMessage)
      // a different user from the SAME address is unaffected
      DriverManager.getConnection(u, "fred", "").close()
      c1.close()
      // erin's pair freed → admitted again
      DriverManager.getConnection(u, "erin", "").close()
    } finally fe.stop()
  }

  test("deny-IP list rejects an open from the denied address; hot-swap lifts it") {
    // reference SessionLimiter.scala:111-124 (denyIps): blocks the
    // HOST, independent of the account connecting from it
    val fe = new ThriftFrontend(engine, denyIps = Set("127.0.0.1")).start()
    try {
      val u = s"jdbc:hive2://localhost:${fe.boundPort}/;auth=noSasl"
      // every user from the denied address is rejected at open
      for (user <- Seq("henry", "iris")) {
        val e = intercept[java.sql.SQLException] {
          DriverManager.getConnection(u, user, "")
        }
        assert(e.getMessage.contains("deny ip list"), e.getMessage)
      }
      // hot-swap (the admin-refresh target) lifts the block live
      fe.limiter.setDenyIps(Set.empty)
      DriverManager.getConnection(u, "henry", "").close()
      fe.limiter.setDenyIps(Set("127.0.0.1"))
      val e2 = intercept[java.sql.SQLException] {
        DriverManager.getConnection(u, "henry", "")
      }
      assert(e2.getMessage.contains("deny ip list"), e2.getMessage)
    } finally fe.stop()
  }

  test("deny list hot-swap takes effect without a restart") {
    val fe = new ThriftFrontend(engine).start()
    try {
      val u = s"jdbc:hive2://localhost:${fe.boundPort}/;auth=noSasl"
      DriverManager.getConnection(u, "gwen", "").close()
      fe.limiter.setDenyUsers(Set("gwen"))
      val e = intercept[java.sql.SQLException] {
        DriverManager.getConnection(u, "gwen", "")
      }
      assert(e.getMessage.contains("deny user list"), e.getMessage)
      fe.limiter.setDenyUsers(Set.empty)
      DriverManager.getConnection(u, "gwen", "").close()
    } finally fe.stop()
  }

  // ---- long-polled GetOperationStatus, over a raw TCLIService client ----

  import org.apache.hive.service.rpc.thrift.{TCLIService, TCancelOperationReq,
    TCloseSessionReq, TExecuteStatementReq, TGetOperationStatusReq,
    TOpenSessionReq, TOperationHandle, TOperationState, TSessionHandle, TStatusCode}
  import graft.core.Operation.StatusWaitMs

  /** A statement that sleeps `ms` in one place: a known duration that
    * takes no core from the box, and that cancel interrupts.
    */
  private def sleepSql(ms: Long) =
    s"SELECT reflect('java.lang.Thread', 'sleep', CAST($ms AS BIGINT)) AS z"

  private val terminalStates = Set(TOperationState.FINISHED_STATE,
    TOperationState.ERROR_STATE, TOperationState.CANCELED_STATE,
    TOperationState.CLOSED_STATE, TOperationState.TIMEDOUT_STATE)

  private def withRawSession[A](conf: Map[String, String] = Map.empty)(
      f: (TCLIService.Client, TSessionHandle) => A): A = {
    val sock = new org.apache.thrift.transport.TSocket("localhost", frontend.boundPort)
    sock.open()
    try {
      val client = new TCLIService.Client(new org.apache.thrift.protocol.TBinaryProtocol(sock))
      val open = new TOpenSessionReq()
      open.setConfiguration(conf.asJava)
      val sess = client.OpenSession(open)
      assert(sess.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
      try f(client, sess.getSessionHandle)
      finally client.CloseSession(new TCloseSessionReq(sess.getSessionHandle))
    } finally sock.close()
  }

  private def executeAsync(client: TCLIService.Client, sess: TSessionHandle,
      sql: String): TOperationHandle = {
    val req = new TExecuteStatementReq(sess, sql)
    req.setRunAsync(true)
    val exec = client.ExecuteStatement(req)
    assert(exec.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
    exec.getOperationHandle
  }

  /** One status call: the state it answered and how long it was held. */
  private def timedStatus(client: TCLIService.Client,
      h: TOperationHandle): (TOperationState, Double) = {
    val t0 = System.nanoTime()
    val st = client.GetOperationStatus(new TGetOperationStatusReq(h))
    (st.getOperationState, (System.nanoTime() - t0) / 1e6)
  }

  test("GetOperationStatus long-polls: a no-pause poll loop makes a handful of calls") {
    // hive-jdbc polls exactly like this, trusting the server to hold
    withRawSession() { (client, sess) =>
      val h = executeAsync(client, sess, sleepSql(2000))
      val t0 = System.nanoTime()
      var state = TOperationState.INITIALIZED_STATE
      var calls = 0
      val deadline = t0 + 60e9.toLong
      while (!terminalStates(state) && System.nanoTime() < deadline) {
        state = timedStatus(client, h)._1
        calls += 1
      }
      val ms = (System.nanoTime() - t0) / 1e6
      assert(state == TOperationState.FINISHED_STATE)
      // every call but the last was held its full bound
      val bound = math.ceil(ms / StatusWaitMs).toInt + 2
      assert(calls <= bound, s"$calls status calls over ${ms.round} ms (bound $bound)")
    }
  }

  test("a cancel from another connection wakes a blocked GetOperationStatus") {
    withRawSession() { (client, sess) =>
      withRawSession() { (other, _) =>
        val h = executeAsync(client, sess, sleepSql(60000))
        assert(!terminalStates(timedStatus(client, h)._1))
        val blocked = scala.concurrent.Future(timedStatus(client, h))(
          scala.concurrent.ExecutionContext.global)
        Thread.sleep(StatusWaitMs / 5) // let the call reach the server and block
        other.CancelOperation(new TCancelOperationReq(h))
        val (state, ms) = scala.concurrent.Await.result(blocked,
          scala.concurrent.duration.Duration(60, "s"))
        assert(state == TOperationState.CANCELED_STATE)
        // answered on the cancel, not when its bound ran out
        assert(ms < StatusWaitMs, s"blocked call held ${ms.round} ms")
      }
    }
  }

  test("a query timeout wakes a blocked GetOperationStatus") {
    // 1250 ms lands halfway through the third held call
    withRawSession(Map("graft.operation.query.timeout" -> "1250")) { (client, sess) =>
      val h = executeAsync(client, sess, sleepSql(60000))
      var last = (TOperationState.INITIALIZED_STATE, 0.0)
      val deadline = System.nanoTime() + 60e9.toLong
      while (!terminalStates(last._1) && System.nanoTime() < deadline)
        last = timedStatus(client, h)
      val (state, ms) = last
      assert(state == TOperationState.TIMEDOUT_STATE)
      assert(ms < StatusWaitMs, s"the call that saw the timeout was held ${ms.round} ms")
    }
  }

  // ---- the engine's one operation registry ----

  import org.apache.hive.service.rpc.thrift.{TCloseOperationReq, TFetchOrientation,
    TFetchResultsReq, THandleIdentifier, TOperationType}

  /** A Thrift handle for an operation id (the engine's handles are UUIDs). */
  private def handleFor(opId: String): TOperationHandle = {
    val u = java.util.UUID.fromString(opId)
    val guid = java.nio.ByteBuffer.allocate(16)
      .putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits)
    guid.flip()
    new TOperationHandle(new THandleIdentifier(guid, java.nio.ByteBuffer.allocate(16)),
      TOperationType.EXECUTE_STATEMENT, true)
  }

  private def idOf(h: THandleIdentifier): String = {
    val bb = java.nio.ByteBuffer.wrap(h.getGuid)
    new java.util.UUID(bb.getLong, bb.getLong).toString
  }

  test("CloseOperation removes the operation: the session holds no closed result and the handle is unknown") {
    withRawSession() { (client, sess) =>
      val handles = (1 to 20).map { i =>
        val exec = client.ExecuteStatement(new TExecuteStatementReq(sess, s"SELECT $i AS n"))
        assert(exec.getStatus.getStatusCode == TStatusCode.SUCCESS_STATUS)
        val h = exec.getOperationHandle
        val page = client.FetchResults(new TFetchResultsReq(h, TFetchOrientation.FETCH_NEXT, 10))
        assert(page.getResults.getColumns.get(0).getI32Val.getValues.get(0) == i)
        assert(client.CloseOperation(new TCloseOperationReq(h)).getStatus.getStatusCode ==
          TStatusCode.SUCCESS_STATUS)
        h
      }
      val es = engine.session(idOf(sess.getSessionId)).get
      assert(es.openOperations.isEmpty, s"${es.openOperations.size} closed operations still held")
      handles.foreach(h => assert(engine.operation(idOf(h.getOperationId)).isEmpty))
      // every call on a closed handle answers as for an unknown one
      val h = handles.last
      val st = client.GetOperationStatus(new TGetOperationStatusReq(h))
      assert(st.getStatus.getStatusCode == TStatusCode.ERROR_STATUS)
      assert(st.getStatus.getErrorMessage == "no such operation")
      val fr = client.FetchResults(new TFetchResultsReq(h, TFetchOrientation.FETCH_FIRST, 10))
      assert(fr.getStatus.getStatusCode == TStatusCode.ERROR_STATUS)
      assert(fr.getStatus.getErrorMessage == "no such operation")
    }
  }

  test("a Thrift client cannot resolve an operation another frontend started") {
    val rest = new RestFrontend(engine, port = 0)
    val base = s"http://localhost:${rest.start()}/api/v1"
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def post(url: String, body: String): String = http.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val sid = mapper.readTree(post(s"$base/sessions", """{"user": "resty"}"""))
        .get("sessionId").asText
      val restOp = mapper.readTree(post(s"$base/sessions/$sid/statements",
        """{"sql": "SELECT 1 AS one"}""")).get("operationId").asText
      assert(engine.operation(restOp).isDefined)
      withRawSession() { (client, _) =>
        val h = handleFor(restOp)
        val st = client.GetOperationStatus(new TGetOperationStatusReq(h))
        assert(st.getStatus.getStatusCode == TStatusCode.ERROR_STATUS)
        assert(st.getStatus.getErrorMessage == "no such operation")
        val fr = client.FetchResults(new TFetchResultsReq(h, TFetchOrientation.FETCH_NEXT, 10))
        assert(fr.getStatus.getErrorMessage == "no such operation")
        // and its close leaves the REST operation alone
        client.CloseOperation(new TCloseOperationReq(h))
        assert(engine.operation(restOp).isDefined)
      }
      engine.closeSession(sid)
    } finally rest.stop()
  }
}
