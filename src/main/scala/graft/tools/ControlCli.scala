package graft.tools

import java.io.IOException
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import graft.core.Json
import graft.core.Json.{quote => q}

/** `graft-ctl` — the admin command line over the REST admin surface
  * (the reference's kyuubi-ctl, kyuubi-ctl/.../cli/ControlCli.scala:27,
  * whose verbs are list/get/delete over engines, sessions and
  * batches). Usage:
  *
  * {{{
  *   graft-ctl [--api http://host:port] <verb> <noun> [id] [--space s]
  *
  *   list session | batch                  all sessions / batches
  *   list engine --space <space>           discovery registrations
  *   get  session <id> | batch <id>        one resource as JSON
  *   log  batch <id>                       drain the batch operation log
  *   delete session <id>                   close a session
  *   delete batch <id>                     cancel a batch
  *   delete engine --space <space>         evict engine registrations
  *   metrics [--prometheus]                gateway counters
  * }}}
  *
  * Output is the server's JSON verbatim (one document per line) so the
  * command composes with jq and scripts; exit code 0 iff the server
  * replied 2xx. `--api` defaults to \$GRAFT_API or localhost:10099.
  */
object ControlCli {

  final case class Result(code: Int, out: String)

  /** Pure entry for tests: returns (exit code, output) instead of
    * printing and exiting. `sink` receives streamed lines (submit's
    * live log tail) as they arrive; the default collects them into
    * the returned output.
    */
  def run(args: Array[String], sink: String => Unit = null): Result = {
    var api = sys.env.getOrElse("GRAFT_API", "http://localhost:10099")
    var space: Option[String] = None
    var discoveryUrl: Option[String] = sys.env.get("GRAFT_DISCOVERY")
    // Identity for the admin verbs (HTTP Basic): `--as user` or
    // `--as user:password`; $GRAFT_ADMIN_USER as the ambient default.
    var asUser: Option[String] = sys.env.get("GRAFT_ADMIN_USER")
    var specFile: Option[String] = None
    var waitTimeoutSec: Int = 600
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--api" => api = args(i + 1); i += 2
        case "--space" => space = Some(args(i + 1)); i += 2
        case "--discovery" => discoveryUrl = Some(args(i + 1)); i += 2
        case "--as" => asUser = Some(args(i + 1)); i += 2
        case "-f" | "--file" => specFile = Some(args(i + 1)); i += 2
        case "--wait-timeout" => waitTimeoutSec = args(i + 1).toInt; i += 2
        case "--help" | "-h" => return Result(0, usage)
        case a => positional += a; i += 1
      }
    }

    def http(method: String, path: String, body: Option[String] = None): Result = {
      val url = URI.create(s"$api/api/v1$path").toURL
      val c = url.openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod(method)
      asUser.foreach { u =>
        val cred = if (u.contains(":")) u else s"$u:"
        c.setRequestProperty("Authorization", "Basic " +
          java.util.Base64.getEncoder.encodeToString(
            cred.getBytes(StandardCharsets.UTF_8)))
      }
      body.foreach { b =>
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "application/json")
        val os = c.getOutputStream
        try os.write(b.getBytes(StandardCharsets.UTF_8)) finally os.close()
      }
      try {
        val code = c.getResponseCode
        val stream = if (code >= 400) c.getErrorStream else c.getInputStream
        val body = if (stream == null) "" else
          new String(stream.readAllBytes(), StandardCharsets.UTF_8)
        Result(if (code >= 200 && code < 300) 0 else 1, body)
      } catch {
        case e: IOException => Result(1, s"""{"error": "cannot reach $api: ${e.getMessage}"}""")
      } finally c.disconnect()
    }

    def enc(s: String): String =
      java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

    val emit: String => Unit = if (sink != null) sink else _ => ()

    /** Multipart POST of the batch spec file (reference kyuubi-ctl
      * `create batch -f`, CreateBatchCommand.scala:31-45): the spec
      * names a LOCAL resource (and optional sidecars) which are
      * uploaded as file parts; everything else passes through as the
      * batchRequest JSON. Returns the server's response.
      */
    def postBatchSpec(): Result = specFile match {
      case None => Result(1, "create/submit batch requires -f <spec.json>")
      case Some(f) =>
        val p = java.nio.file.Paths.get(f)
        if (!java.nio.file.Files.exists(p))
          return Result(1, s"""{"error": "spec file not found: $f"}""")
        val spec = Json.fields(new String(java.nio.file.Files.readAllBytes(p), StandardCharsets.UTF_8))
        val resource = spec.str("resource").getOrElse {
          return Result(1, """{"error": "spec must name a local `resource` file"}""")
        }
        val resPath = {
          val r = java.nio.file.Paths.get(resource)
          if (r.isAbsolute) r else p.toAbsolutePath.getParent.resolve(r)
        }
        if (!java.nio.file.Files.exists(resPath))
          return Result(1, s"""{"error": "resource file not found: $resPath"}""")
        val extras = spec.strs("extraResources").map { e =>
          val ep = java.nio.file.Paths.get(e)
          if (ep.isAbsolute) ep else p.toAbsolutePath.getParent.resolve(ep)
        }
        extras.find(e => !java.nio.file.Files.exists(e)).foreach { e =>
          return Result(1, s"""{"error": "extra resource not found: $e"}""")
        }
        // The wire shape is the reference's extraResourcesMap: one
        // comma-separated value of basenames, each repeated as its own
        // multipart part. Two filename classes can't ride it and fail
        // CLEANLY here instead of splitting wrong server-side: a
        // basename containing ',' (the map separator) and duplicate
        // basenames (part names collide → one file silently wins).
        extras.map(_.getFileName.toString).find(_.contains(",")).foreach { n =>
          return Result(1, s"""{"error": "extra resource basename contains ',' (the extraResourcesMap separator) and cannot be uploaded: $n — rename the file"}""")
        }
        val dupNames = extras.map(_.getFileName.toString)
          .groupBy(identity).collect { case (n, vs) if vs.size > 1 => n }
        if (dupNames.nonEmpty)
          return Result(1, s"""{"error": "duplicate extra resource basenames collide as upload part names: ${dupNames.toSeq.sorted.mkString(", ")} — rename or deduplicate"}""")
        val req = {
          val sb = new StringBuilder("{")
          sb ++= s""""batchType": ${q(
            spec.str("batchType").getOrElse("SPARK"))}"""
          spec.str("className").foreach(c => sb ++= s""", "className": ${q(c)}""")
          spec.str("user").orElse(asUser.map(_.takeWhile(_ != ':')))
            .foreach(u => sb ++= s""", "user": ${q(u)}""")
          spec.str("name").foreach(n => sb ++= s""", "name": ${q(n)}""")
          val args0 = spec.strs("args")
          if (args0.nonEmpty)
            sb ++= s""", "args": [${args0.map(q).mkString(", ")}]"""
          val conf = spec.strMap("conf")
          if (conf.nonEmpty)
            sb ++= s""", "conf": {${conf.map { case (k, v) =>
              s"${q(k)}: ${q(v)}" }.mkString(", ")}}"""
          if (extras.nonEmpty)
            sb ++= s""", "extraResourcesMap": {"files": ${q(
              extras.map(_.getFileName.toString).mkString(","))}}"""
          sb ++= "}"
          sb.toString
        }
        val boundary = "graftCtl" + java.util.UUID.randomUUID().toString.replace("-", "")
        val body = new java.io.ByteArrayOutputStream()
        def text(s: String): Unit = body.write(s.getBytes(StandardCharsets.ISO_8859_1))
        text(s"--$boundary\r\n")
        text("Content-Disposition: form-data; name=\"batchRequest\"\r\n")
        text("Content-Type: application/json\r\n\r\n")
        body.write(req.getBytes(StandardCharsets.UTF_8)) // the server reads the JSON as UTF-8
        text(s"\r\n--$boundary\r\n")
        text(s"""Content-Disposition: form-data; name="resourceFile"; filename="${resPath.getFileName}"""" + "\r\n")
        text("Content-Type: application/octet-stream\r\n\r\n")
        body.write(java.nio.file.Files.readAllBytes(resPath))
        extras.foreach { e =>
          text(s"\r\n--$boundary\r\n")
          text(s"""Content-Disposition: form-data; name="${e.getFileName}"; filename="${e.getFileName}"""" + "\r\n")
          text("Content-Type: application/octet-stream\r\n\r\n")
          body.write(java.nio.file.Files.readAllBytes(e))
        }
        text(s"\r\n--$boundary--\r\n")
        val url = URI.create(s"$api/api/v1/batches").toURL
        val c = url.openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestMethod("POST")
        c.setRequestProperty("Content-Type", s"multipart/form-data; boundary=$boundary")
        asUser.foreach { u =>
          val cred = if (u.contains(":")) u else s"$u:"
          c.setRequestProperty("Authorization", "Basic " +
            java.util.Base64.getEncoder.encodeToString(
              cred.getBytes(StandardCharsets.UTF_8)))
        }
        c.setDoOutput(true)
        try {
          val os = c.getOutputStream
          try os.write(body.toByteArray) finally os.close()
          val code = c.getResponseCode
          val stream = if (code >= 400) c.getErrorStream else c.getInputStream
          val resp = if (stream == null) "" else
            new String(stream.readAllBytes(), StandardCharsets.UTF_8)
          Result(if (code >= 200 && code < 300) 0 else 1, resp)
        } catch {
          case e: IOException =>
            Result(1, s"""{"error": "cannot reach $api: ${e.getMessage}"}""")
        } finally c.disconnect()
    }

    /** `submit batch -f`: create, then TAIL the batch to a terminal
      * state — localLog lines stream to `sink` as they appear (the
      * reference's submit verb blocks and mirrors the log), exit code
      * 0 only for FINISHED.
      */
    def submitBatch(): Result = {
      val created = postBatchSpec()
      if (created.code != 0) return created
      val id = Json.fields(created.out).str("id").getOrElse(
        return Result(1, s"""{"error": "no id in create response: ${created.out}"}"""))
      emit(created.out)
      val terminal = Set("FINISHED", "ERROR", "CANCELED", "CLOSED", "TIMEOUT")
      val deadline = System.nanoTime() + waitTimeoutSec * 1000000000L
      var state = Json.fields(created.out).str("state").getOrElse("")
      val collected = new StringBuilder(created.out).append('\n')
      def drainLog(): Unit = {
        val log = http("GET", s"/batches/${enc(id)}/localLog")
        // localLog is incremental: each line arrives exactly once
        Json.fields(log.out).strs("logRowSet").foreach { line =>
          emit(line); collected.append(line).append('\n')
        }
      }
      while (!terminal(state) && System.nanoTime() < deadline) {
        drainLog()
        state = Json.fields(http("GET", s"/batches/${enc(id)}").out).str("state")
          .getOrElse(state)
        if (!terminal(state)) Thread.sleep(300)
      }
      drainLog() // the tail written between the last poll and terminal
      val line = s"""{"id": ${q(id)}, "state": ${q(
        if (state.isEmpty) "UNKNOWN" else state)}}"""
      emit(line); collected.append(line)
      // with a live sink every line already went out — don't echo twice
      Result(if (state == "FINISHED") 0 else 1,
        if (sink != null) "" else collected.toString)
    }

    positional.toList match {
      case "create" :: "batch" :: Nil => postBatchSpec()
      case "submit" :: "batch" :: Nil => submitBatch()
      case "list" :: "session" :: Nil => http("GET", "/sessions")
      case "list" :: "batch" :: Nil => http("GET", "/batches")
      case "list" :: "engine" :: Nil => space match {
        case Some(sp) => http("GET", s"/admin/engine?space=${enc(sp)}")
        case None => Result(1, "list engine requires --space <discovery space>")
      }
      case "get" :: "session" :: id :: Nil => http("GET", s"/sessions/${enc(id)}")
      case "get" :: "batch" :: id :: Nil => http("GET", s"/batches/${enc(id)}")
      case "log" :: "batch" :: id :: Nil => http("GET", s"/batches/${enc(id)}/localLog")
      case "delete" :: "session" :: id :: Nil => http("DELETE", s"/sessions/${enc(id)}")
      case "delete" :: "batch" :: id :: Nil => http("DELETE", s"/batches/${enc(id)}")
      case "delete" :: "engine" :: Nil => space match {
        case Some(sp) => http("DELETE", s"/admin/engine?space=${enc(sp)}")
        case None => Result(1, "delete engine requires --space <discovery space>")
      }
      case "metrics" :: Nil => http("GET", "/metrics")
      case "metrics" :: "--prometheus" :: Nil => http("GET", "/metrics/prometheus")
      // every materialized share space with its registrations (the
      // /ui/engines data, machine-readable)
      case "list" :: "engines" :: Nil => http("GET", "/admin/engines")
      // recent lifecycle/audit events, newest first
      case "events" :: Nil => http("GET", "/events")
      case "events" :: limit :: Nil => http("GET", s"/events?limit=${enc(limit)}")
      // gateway HA resolution straight from the discovery registry —
      // no REST endpoint needed (there may be no live gateway to ask);
      // this IS how a client finds one of N gateways
      case "resolve" :: "gateway" :: Nil => discoveryUrl match {
        case Some(u) =>
          graft.server.GatewayServer.resolveGateway(
              graft.core.DiscoveryClients.fromUrl(u)) match {
            case Some(addr) => Result(0, addr)
            case None => Result(1, """{"error": "no live gateway registered"}""")
          }
        case None =>
          Result(1, "resolve gateway requires --discovery <url|dir> (or $GRAFT_DISCOVERY)")
      }
      // Operator-triggered hot refresh (reference kyuubi-ctl's admin
      // verbs over AdminResource): enforce a policy/profile/deny-list
      // file edit NOW instead of at the next reload tick.
      case "refresh" :: target :: Nil =>
        http("POST", s"/admin/refresh/${enc(target)}")
      // Admin views across all users (reference AdminResource):
      // listings with an optional user filter, force-close/cancel by
      // handle, the registered gateway list, live-batch count.
      case "admin" :: "list" :: "session" :: Nil => http("GET", "/admin/sessions")
      case "admin" :: "list" :: "session" :: users :: Nil =>
        http("GET", s"/admin/sessions?users=${enc(users)}")
      case "admin" :: "list" :: "operation" :: Nil => http("GET", "/admin/operations")
      case "admin" :: "close" :: "session" :: id :: Nil =>
        http("DELETE", s"/admin/sessions/${enc(id)}")
      case "admin" :: "cancel" :: "operation" :: id :: Nil =>
        http("DELETE", s"/admin/operations/${enc(id)}")
      case "admin" :: "list" :: "server" :: Nil => http("GET", "/admin/server")
      case "admin" :: "count" :: "batch" :: Nil => http("GET", "/admin/batch/count")
      // move a DEAD gateway's unfinished batches onto the target
      // gateway (refused with 409 while the source still answers)
      case "admin" :: "reassign" :: "batch" :: from :: Nil =>
        http("POST", "/admin/batch/reassign",
          body = Some(s"""{"from": "$from"}"""))
      case Nil => Result(1, usage)
      case other => Result(1, s"unknown command: ${other.mkString(" ")}\n$usage")
    }
  }

  /** Just enough JSON for the CLI's flat spec/response documents —
    * string fields, string arrays, flat string maps (the same regex
    * discipline the REST frontend applies to batchRequest bodies).
    */
  private val usage: String =
    """graft-ctl [--api http://host:port] <verb> <noun> [id] [--space s]
      |  create batch -f <spec.json> upload + launch a batch, print the handle
      |  submit batch -f <spec.json> create, tail the log to a terminal state
      |                              (exit 0 iff FINISHED; --wait-timeout secs)
      |      spec: {"batchType": "SPARK", "className": c, "resource": path,
      |             "args": [...], "conf": {...}, "extraResources": [paths]}
      |  list session|batch          list sessions / batches
      |  list engine --space <s>     list discovery registrations
      |  get session|batch <id>      one resource
      |  log batch <id>              drain batch operation log
      |  delete session|batch <id>   close / cancel
      |  delete engine --space <s>   evict engine registrations
      |  metrics [--prometheus]      gateway counters (JSON / exposition)
      |  list engines                every share space + registrations
      |  events [limit]              recent lifecycle/audit events
      |  resolve gateway --discovery <url|dir>   pick a live HA gateway
      |  refresh <target> --as <admin[:pass]>    hot-reload authz_policies |
      |                                          session_conf_profiles | deny_users
      |  admin list session [users] --as <admin>   all users' sessions
      |  admin list operation --as <admin>         all live operations
      |  admin close session <id> --as <admin>     force-close any session
      |  admin cancel operation <id> --as <admin>  cancel any operation
      |  admin list server --as <admin>            registered HA gateways
      |  admin count batch --as <admin>            live+stored batch count
      |  admin reassign batch <fromUrl> --as <admin>  take a dead gateway's batches""".stripMargin

  def main(args: Array[String]): Unit = {
    val r = run(args, sink = line => println(line))
    if (r.out.nonEmpty) println(r.out)
    sys.exit(r.code)
  }
}
