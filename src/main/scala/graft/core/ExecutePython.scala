package graft.core

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

/** Python execution escape hatch: a managed `python3` worker process
  * speaking JSON-lines over stdio (the reference's ExecutePython
  * worker/bootstrap pattern, engine/spark/operation/ExecutePython.scala:49,
  * 188-368 — protocol re-designed: instead of embedding pyspark, the
  * worker calls BACK into the engine over the same pipe, so Python
  * gets SQL *and* DataFrame access with zero Python-side Spark
  * dependency).
  *
  * Two callback surfaces inside a cell:
  *  - `sql(query)` → JSON rows.
  *  - `table(name)` → a Python-side DataFrame *proxy*: select /
  *    filter / withColumn / join / groupBy().agg / orderBy / limit
  *    build a logical-plan document client-side; actions (collect,
  *    count) ship the plan to the JVM, which replays it against the
  *    real Dataset API (selectExpr/filter/join/agg...) — lazy and
  *    Catalyst-optimized like pyspark, without embedding it.
  *
  * Protocol, one JSON object per line:
  *   JVM → worker:  {"id": n, "code": "..."}            run a cell
  *   worker → JVM:  {"type": "sql", "sql": "..."}       mid-cell callback
  *   worker → JVM:  {"type": "df", "action": a, "plan": {...}}
  *   JVM → worker:  {"rows": [...]} | {"value": n}      callback reply
  *   worker → JVM:  {"id": n, "status": "ok"|"error", "output": "..."}
  */
class PythonWorker(session: EngineSession) {

  /** Real-PySpark prelude: connect to the engine JVM's py4j gateway
    * (pyspark's own read_int/UTF8Deserializer handshake + ClientServer
    * with auth token) and wrap the JVM-side SESSION SparkSession in a
    * pyspark SparkSession — python's `spark` sees the session's temp
    * views and conf (the reference's kyuubi_util.get_spark_session).
    * Failure to attach leaves `spark` undefined and the proxy surface
    * intact — pyspark is probed, never required.
    */
  private val pysparkPrelude =
    """try:
      |    import os
      |    from py4j.clientserver import ClientServer, JavaParameters, PythonParameters
      |    from pyspark.serializers import read_int, UTF8Deserializer
      |    from pyspark.conf import SparkConf
      |    from pyspark.context import SparkContext
      |    from pyspark.sql import SparkSession
      |    with open(os.environ["GRAFT_GATEWAY_INFO"], "rb") as _info:
      |        _port = read_int(_info)
      |        _secret = UTF8Deserializer().loads(_info)
      |    _gateway = ClientServer(
      |        java_parameters=JavaParameters(
      |            port=_port, auth_token=_secret, auto_convert=True),
      |        python_parameters=PythonParameters(port=0, eager_load=False))
      |    from py4j.java_gateway import java_import
      |    for _pkg in ["org.apache.spark.SparkConf",
      |                 "org.apache.spark.api.java.*",
      |                 "org.apache.spark.api.python.*",
      |                 "org.apache.spark.resource.*",
      |                 "org.apache.spark.sql.*",
      |                 "org.apache.spark.sql.api.python.*"]:
      |        java_import(_gateway.jvm, _pkg)
      |    _jjsc = _gateway.jvm.JavaSparkContext(
      |        _gateway.jvm.org.apache.spark.SparkContext.getOrCreate())
      |    _conf = SparkConf()
      |    _conf.setMaster("graft-attached").setAppName("graft-python")
      |    _sc = SparkContext(conf=_conf, gateway=_gateway, jsc=_jjsc)
      |    _jsession = _gateway.jvm.graft.core.PySparkSessions.get(
      |        os.environ["GRAFT_SESSION_UUID"])
      |    spark = SparkSession(sparkContext=_sc, jsparkSession=_jsession)
      |except Exception as _e:
      |    import sys as _sys
      |    print("pyspark attach failed: %s" % _e, file=_sys.stderr)
      |""".stripMargin

  private val script: Path = {
    val pyspark = PythonWorker.pysparkUsable
    val code =
      (if (pyspark) pysparkPrelude else "") +
      """import sys, json, io, contextlib, traceback
        |
        |def _send(obj):
        |    sys.__stdout__.write(json.dumps(obj) + "\n")
        |    sys.__stdout__.flush()
        |
        |def sql(query):
        |    _send({"type": "sql", "sql": query})
        |    reply = json.loads(sys.stdin.readline())
        |    if "error" in reply:
        |        raise RuntimeError(reply["error"])
        |    return reply["rows"]
        |
        |def _df_action(plan, action):
        |    _send({"type": "df", "action": action, "plan": plan})
        |    reply = json.loads(sys.stdin.readline())
        |    if "error" in reply:
        |        raise RuntimeError(reply["error"])
        |    return reply["value"] if action == "count" else reply["rows"]
        |
        |class DataFrame:
        |    def __init__(self, plan):
        |        self._plan = plan
        |    def _chain(self, **kw):
        |        kw["child"] = self._plan
        |        return DataFrame(kw)
        |    def select(self, *cols):
        |        return self._chain(op="select", cols=list(cols))
        |    def filter(self, cond):
        |        return self._chain(op="filter", cond=cond)
        |    where = filter
        |    def withColumn(self, name, expr):
        |        return self._chain(op="withColumn", name=name, expr=expr)
        |    def join(self, other, on, how="inner"):
        |        on = [on] if isinstance(on, str) else list(on)
        |        return self._chain(op="join", right=other._plan, on=on, how=how)
        |    def groupBy(self, *cols):
        |        return GroupedData(self._plan, list(cols))
        |    def orderBy(self, *cols):
        |        return self._chain(op="orderBy", cols=list(cols))
        |    def limit(self, n):
        |        return self._chain(op="limit", n=n)
        |    def collect(self):
        |        return _df_action(self._plan, "collect")
        |    def count(self):
        |        return _df_action(self._plan, "count")
        |    def show(self):
        |        for r in self.collect():
        |            print(r)
        |
        |class GroupedData:
        |    def __init__(self, plan, keys):
        |        self._plan, self._keys = plan, keys
        |    def agg(self, *exprs):
        |        return DataFrame({"op": "agg", "keys": self._keys,
        |                          "aggs": list(exprs), "child": self._plan})
        |
        |def table(name):
        |    return DataFrame({"op": "table", "name": name})
        |
        |ctx = {"sql": sql, "table": table, "DataFrame": DataFrame}
        |if "spark" in dir():
        |    ctx["spark"] = spark
        |for line in sys.stdin:
        |    req = json.loads(line)
        |    buf = io.StringIO()
        |    try:
        |        with contextlib.redirect_stdout(buf):
        |            try:
        |                value = eval(compile(req["code"], "<cell>", "eval"), ctx)
        |                if value is not None:
        |                    print(repr(value))
        |            except SyntaxError:
        |                exec(compile(req["code"], "<cell>", "exec"), ctx)
        |        _send({"id": req["id"], "status": "ok", "output": buf.getvalue()})
        |    except Exception:
        |        _send({"id": req["id"], "status": "error",
        |               "output": buf.getvalue() + traceback.format_exc()})
        |""".stripMargin
    val p = Files.createTempFile("graft_pyworker", ".py")
    Files.write(p, code.getBytes(StandardCharsets.UTF_8))
    p
  }

  private lazy val process: Process = {
    val pb = new ProcessBuilder("python3", script.toString).redirectErrorStream(false)
    if (PythonWorker.pysparkUsable) {
      // JVM-first attachment: start (once) the in-process py4j gateway,
      // expose this session's SparkSession by uuid, point the worker at
      // the connection-info file.
      val info = org.apache.spark.api.python.GraftPythonGateway.ensureStarted()
      PySparkSessions.put(session.id, session.spark)
      pb.environment().put("GRAFT_GATEWAY_INFO", info)
      pb.environment().put("GRAFT_SESSION_UUID", session.id)
      pb.environment().put("PYSPARK_PIN_THREAD", "true")
    }
    pb.start()
  }
  private lazy val toWorker = new PrintWriter(process.getOutputStream, true)
  private lazy val fromWorker =
    new BufferedReader(new InputStreamReader(process.getInputStream, StandardCharsets.UTF_8))

  private var nextId = 0

  /** Run a Python cell; returns its printed output. `sql("...")` inside
    * the cell round-trips through the session's SparkSession.
    */
  def run(code: String): String = synchronized {
    nextId += 1
    val id = nextId
    toWorker.println(jsonObj(Seq("id" -> id.toString, "code" -> Json.quote(code))))
    var line = fromWorker.readLine()
    while (line != null) {
      if (line.contains("\"type\": \"sql\"") || line.contains("\"type\":\"sql\"")) {
        val sqlText = extractString(line, "sql")
        val reply = try {
          val rows = session.spark.sql(sqlText).toJSON.collect()
          s"""{"rows": [${rows.mkString(",")}]}"""
        } catch {
          case e: Throwable => jsonObj(Seq("error" -> Json.quote(String.valueOf(e.getMessage))))
        }
        toWorker.println(reply)
      } else if (line.contains("\"type\": \"df\"") || line.contains("\"type\":\"df\"")) {
        val reply = try {
          val msg = ExecutePython.mapper.readTree(line)
          val df = ExecutePython.buildDf(session.spark, msg.get("plan"))
          msg.get("action").asText match {
            case "count" => s"""{"value": ${df.count()}}"""
            case "collect" => s"""{"rows": [${df.toJSON.collect().mkString(",")}]}"""
            case other => jsonObj(Seq("error" -> Json.quote(s"unknown df action: $other")))
          }
        } catch {
          case e: Throwable => jsonObj(Seq("error" -> Json.quote(String.valueOf(e.getMessage))))
        }
        toWorker.println(reply)
      } else {
        val status = extractString(line, "status")
        val output = extractString(line, "output")
        if (status == "error") throw new RuntimeException(s"python execution failed:\n$output")
        return output
      }
      line = fromWorker.readLine()
    }
    throw new IllegalStateException("python worker terminated unexpectedly")
  }

  def close(): Unit = {
    PySparkSessions.remove(session.id)
    try process.destroy() catch { case _: Throwable => }
    try Files.deleteIfExists(script) catch { case _: Throwable => }
  }

  // -- minimal JSON helpers (protocol is flat string fields) --
  private def jsonObj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
  private def extractString(json: String, key: String): String = {
    val m = java.util.regex.Pattern
      .compile("\"" + key + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").matcher(json)
    if (!m.find()) return ""
    m.group(1)
      .replace("\\n", "\n").replace("\\t", "\t").replace("\\r", "\r")
      .replace("\\\"", "\"").replace("\\\\", "\\")
  }
}

object PythonWorker {
  def available(): Boolean =
    try new ProcessBuilder("python3", "--version").start().waitFor() == 0
    catch { case _: Throwable => false }

  /** Probe once per JVM: real-pyspark mode needs pyspark AND py4j
    * importable by the worker interpreter.
    */
  lazy val pysparkUsable: Boolean =
    try new ProcessBuilder("python3", "-c", "import pyspark, py4j")
      .start().waitFor() == 0
    catch { case _: Throwable => false }
}

object ExecutePython {
  import com.fasterxml.jackson.databind.JsonNode

  private[core] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Replay a worker-built logical-plan document against the real
    * Dataset API. Column/predicate strings go through the SQL
    * expression parser (`selectExpr` / `expr`), so the Python surface
    * matches pyspark's string-accepting overloads.
    */
  private[core] def buildDf(spark: org.apache.spark.sql.SparkSession, node: JsonNode): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    def strs(n: JsonNode): Seq[String] =
      (0 until n.size()).map(i => n.get(i).asText)
    node.get("op").asText match {
      case "table" => spark.table(node.get("name").asText)
      case "select" => buildDf(spark, node.get("child")).selectExpr(strs(node.get("cols")): _*)
      case "filter" => buildDf(spark, node.get("child")).filter(node.get("cond").asText)
      case "withColumn" =>
        buildDf(spark, node.get("child"))
          .withColumn(node.get("name").asText, expr(node.get("expr").asText))
      case "join" =>
        buildDf(spark, node.get("child")).join(
          buildDf(spark, node.get("right")),
          strs(node.get("on")), node.get("how").asText)
      case "agg" =>
        val child = buildDf(spark, node.get("child"))
        val aggs = strs(node.get("aggs")).map(expr)
        require(aggs.nonEmpty, "agg() needs at least one aggregate expression")
        val keys = strs(node.get("keys"))
        if (keys.isEmpty) child.agg(aggs.head, aggs.tail: _*)
        else child.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      case "orderBy" =>
        buildDf(spark, node.get("child")).orderBy(strs(node.get("cols")).map(expr): _*)
      case "limit" => buildDf(spark, node.get("child")).limit(node.get("n").asInt)
      case other => throw new IllegalArgumentException(s"unknown df op: $other")
    }
  }
}
