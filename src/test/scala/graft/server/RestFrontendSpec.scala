package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.core.Engine

class RestFrontendSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def withServer(f: (HttpClient, String) => Unit): Unit = {
    val front = new RestFrontend(new Engine(spark), port = 0)
    val port = front.start()
    try f(HttpClient.newHttpClient(), s"http://localhost:$port/api/v1")
    finally front.stop()
  }

  private def post(c: HttpClient, url: String, body: String): (Int, String) = {
    val r = c.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def get(c: HttpClient, url: String): (Int, String) = {
    val r = c.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def extract(json: String, key: String): String = {
    val m = java.util.regex.Pattern.compile("\"" + key + "\"\\s*:\\s*\"([^\"]*)\"").matcher(json)
    assert(m.find(), s"$key not in $json"); m.group(1)
  }

  /** The Events bus as a test sees it: FINISHED operation handles and
    * CLOSED session ids, in arrival order.
    */
  private final class EventTap extends graft.core.Events.Handler {
    private val finished = new java.util.concurrent.LinkedBlockingQueue[String]()
    private val closed = new java.util.concurrent.LinkedBlockingQueue[String]()
    override def onEvent(e: graft.core.Events.Event): Unit = e match {
      case graft.core.Events.OperationEvent(h, _, "FINISHED", _, _) => finished.put(h)
      case graft.core.Events.SessionEvent(sid, _, "CLOSED", _) => closed.put(sid)
      case _ => ()
    }

    /** Wait up to `seconds` for the FINISHED event of every handle. */
    def awaitFinished(handles: Seq[String], seconds: Int): Unit = {
      val deadline = System.nanoTime() + seconds * 1000000000L
      val pending = scala.collection.mutable.Set(handles: _*)
      while (pending.nonEmpty) {
        val h = finished.poll(deadline - System.nanoTime(),
          java.util.concurrent.TimeUnit.NANOSECONDS)
        if (h == null) fail(s"no FINISHED event in $seconds s for ${pending.mkString(", ")}")
        pending -= h
      }
    }

    /** Wait, one CLOSED session event at a time, until `engine` holds
      * `sessions` open sessions.
      */
    def awaitSessions(engine: Engine, sessions: Int, seconds: Int): Unit =
      while (engine.openSessionCount != sessions)
        if (closed.poll(seconds, java.util.concurrent.TimeUnit.SECONDS) == null)
          fail(s"${engine.openSessionCount - sessions} engine sessions left open")
  }

  private def onEvents[A](f: EventTap => A): A = {
    val tap = new EventTap
    graft.core.Events.register(tap)
    try f(tap) finally graft.core.Events.unregister(tap)
  }

  test("session → statement → poll → result lifecycle over HTTP") {
    withServer { (c, base) =>
      val (sc, sbody) = post(c, s"$base/sessions", """{"user": "resty"}""")
      assert(sc == 200)
      val sid = extract(sbody, "sessionId")

      val (qc, qbody) = post(c, s"$base/sessions/$sid/statements",
        """{"sql": "SELECT id, id * 2 AS twice FROM range(5)"}""")
      assert(qc == 200)
      val opId = extract(qbody, "operationId")

      var state = ""
      val deadline = System.nanoTime() + 30e9.toLong
      while (state != "FINISHED" && System.nanoTime() < deadline) {
        val (_, st) = get(c, s"$base/sessions/$sid/statements/$opId")
        state = extract(st, "state")
        if (state == "ERROR") fail(s"statement failed: $st")
        Thread.sleep(100)
      }
      assert(state == "FINISHED")

      val (rc, rbody) = get(c, s"$base/sessions/$sid/statements/$opId/result?maxRows=10")
      assert(rc == 200)
      assert(rbody.contains(""""twice":8"""), rbody)

      val (dc, _) = c.send(HttpRequest.newBuilder(URI.create(s"$base/sessions/$sid"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString()) match {
        case r => (r.statusCode(), r.body())
      }
      assert(dc == 200)
    }
  }

  test("per-user batch limit rejects live overflow and frees when a batch finishes") {
    // reference kyuubi.server.limit.batch.connections.per.user: cap on
    // LIVE batches per user; terminal batches release their slot
    val front = new RestFrontend(new Engine(spark), port = 0, maxBatchesPerUser = 1)
    val port = front.start()
    val groups = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val dbg = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.put(js.jobId, String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(dbg)
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://localhost:$port/api/v1"
      // one sleeping task: stays live for minutes but dies INSTANTLY on
      // cancel (task kill interrupts the thread; sleep is interruptible).
      // Deliberately NOT a big count/cross-join — codegen'd agg-over-range
      // loops never poll the kill flag, so a cancelled heavy scan leaves
      // unkillable zombie tasks squatting on the shared test cluster's
      // cores and starves every test that follows.
      val slow = """{"sql": "SELECT reflect('java.lang.Thread','sleep',CAST(300000 AS BIGINT)) FROM range(1)", "user": "bob"}"""
      val (c1, b1) = post(c, s"$base/batches", slow)
      assert(c1 == 200, b1)
      val id1 = extract(b1, "id")
      // second live batch for the same user → 429
      val (c2, b2) = post(c, s"$base/batches", slow)
      assert(c2 == 429 && b2.contains("Batch limit per user"), s"$c2 $b2")
      // a different user is unaffected
      val (c3, b3) = post(c, s"$base/batches",
        """{"sql": "SELECT 1", "user": "carol"}""")
      assert(c3 == 200)
      // cancel the live batch → the slot frees
      val (dc, _) = delete(c, s"$base/batches/$id1")
      assert(dc == 200)
      val deadline = System.nanoTime() + 30e9.toLong
      var freed: Option[String] = None
      while (freed.isEmpty && System.nanoTime() < deadline) {
        val (cc, bb) = post(c, s"$base/batches", """{"sql": "SELECT 2", "user": "bob"}""")
        if (cc == 200) freed = Some(extract(bb, "id"))
        else { assert(cc == 429, bb); Thread.sleep(100) }
      }
      assert(freed.isDefined, "slot never freed after cancel")
      // hand the shared local[32] cluster back QUIET: wait until the
      // cancelled batch's tasks have actually exited, or the burn
      // starves the polling deadlines of whatever test runs next.
      // carol's and bob's short batches start jobs of their own, so they
      // must be terminal first: a drain that sees an empty job list
      // before one of them starts its job would exit too early.
      val tracker = spark.sparkContext.statusTracker
      val drain = System.nanoTime() + 60e9.toLong
      def terminal(id: String) = {
        val st = extract(get(c, s"$base/batches/$id")._2, "state")
        graft.core.OperationState.all.exists(s => s.name == st && s.terminal)
      }
      for (id <- Seq(extract(b3, "id"), freed.get))
        while (!terminal(id) && System.nanoTime() < drain) Thread.sleep(100)
      while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < drain)
        Thread.sleep(100)
      val leftover = tracker.getActiveJobIds()
      assert(leftover.isEmpty,
        "cancelled batch still running: " +
          leftover.map(j => s"$j(group=${groups.get(j)})").mkString(","))
    } finally {
      front.stop()
      spark.sparkContext.removeSparkListener(dbg)
    }
  }

  test("concurrent batch submits at limit-1 never overshoot the per-user cap") {
    // Regression for the scan-then-act TOCTOU: with one slot left, N
    // simultaneous POSTs (released together by a barrier) must admit
    // EXACTLY one — the server counts with an atomic
    // increment-then-check, so no interleaving admits two.
    val front = new RestFrontend(new Engine(spark), port = 0, maxBatchesPerUser = 2)
    val port = front.start()
    try {
      val base = s"http://localhost:$port/api/v1"
      val slow = """{"sql": "SELECT reflect('java.lang.Thread','sleep',CAST(300000 AS BIGINT)) FROM range(1)", "user": "dave"}"""
      val c0 = HttpClient.newHttpClient()
      val (s1, b1) = post(c0, s"$base/batches", slow)
      assert(s1 == 200, b1)
      val id1 = extract(b1, "id")
      val (_, st1) = get(c0, s"$base/batches/$id1")
      assert(!Set("FINISHED", "ERROR", "CANCELED", "TIMEOUT", "CLOSED")
        .contains(extract(st1, "state")), s"first batch went terminal: $st1")
      val n = 8
      val gate = new java.util.concurrent.CyclicBarrier(n)
      val replies = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
      val threads = (1 to n).map { _ =>
        new Thread(() => {
          val c = HttpClient.newHttpClient()
          gate.await()
          replies.add(post(c, s"$base/batches", slow))
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val admitted = replies.asScala.filter(_._1 == 200).toSeq
      val rejected = replies.asScala.filter(_._1 == 429).toSeq
      val states = admitted.map(r => extract(get(c0, s"$base/batches/${extract(r._2, "id")}")._2, "state"))
      assert(admitted.size == 1 && rejected.size == n - 1,
        s"codes: ${replies.asScala.map(_._1).mkString(",")} admittedStates: ${states.mkString(",")}")
      // the 429 body is well-formed JSON even though it interpolates
      // the user string (q()-quoted server-side)
      assert(rejected.head._2.contains("Batch limit per user"), rejected.head._2)
      // cleanup: cancel both live batches and hand the cluster back quiet
      val id2 = extract(admitted.head._2, "id")
      delete(c0, s"$base/batches/$id1")
      delete(c0, s"$base/batches/$id2")
      val tracker = spark.sparkContext.statusTracker
      val drain = System.nanoTime() + 60e9.toLong
      while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < drain)
        Thread.sleep(100)
      assert(tracker.getActiveJobIds().isEmpty, "cancelled batches still running")
    } finally front.stop()
  }

  test("operation-scoped resources: event, resultsetmetadata, log, rowset with orientation paging") {
    withServer { (c, base) =>
      val sid = extract(post(c, s"$base/sessions", """{"user": "opres"}""")._2, "sessionId")
      val opId = extract(post(c, s"$base/sessions/$sid/statements",
        """{"sql": "SELECT id, id * 10 AS tens FROM range(10) ORDER BY id"}""")._2,
        "operationId")
      // poll to FINISHED via the event document
      val deadline = System.nanoTime() + 30e9.toLong
      var ev = get(c, s"$base/operations/$opId/event")._2
      while (!ev.contains("FINISHED") && System.nanoTime() < deadline) {
        Thread.sleep(100); ev = get(c, s"$base/operations/$opId/event")._2
      }
      assert(ev.contains("FINISHED") && ev.contains("\"statement\""), ev)

      // result schema with Spark type names
      val (mc, meta) = get(c, s"$base/operations/$opId/resultsetmetadata")
      assert(mc == 200 && meta.contains("\"columnName\": \"tens\"") &&
        meta.contains("\"dataType\": \"bigint\""), meta)

      // paged rowset off the materialized iterator: 4 + 4 + prior
      val (r1c, r1) = get(c, s"$base/operations/$opId/rowset?maxrows=4")
      assert(r1c == 200 && r1.contains("\"offset\": 0") &&
        "\"tens\":".r.findAllIn(r1).size == 4, r1)
      val (_, r2) = get(c, s"$base/operations/$opId/rowset?maxrows=4")
      assert(r2.contains("\"offset\": 4") && r2.contains("\"tens\":40"), r2)
      val (_, rp) = get(c,
        s"$base/operations/$opId/rowset?maxrows=4&fetchorientation=FETCH_PRIOR")
      assert(rp.contains("\"offset\": 0"), s"PRIOR must rewind: $rp")

      // operation log is readable through the operation-scoped path
      val (lc, log) = get(c, s"$base/operations/$opId/log?maxrows=50")
      assert(lc == 200 && log.contains("logRowSet"), log)

      // unknowns 404
      assert(get(c, s"$base/operations/nope/rowset")._1 == 404)
      assert(get(c, s"$base/operations/nope/resultsetmetadata")._1 == 404)

      // a malformed maxrows is the CLIENT's error → 400 naming the bad
      // parameter, never a NumberFormatException-turned-500 (r16 ADVICE)
      val (bc1, bb1) = get(c, s"$base/operations/$opId/rowset?maxrows=lots")
      assert(bc1 == 400 && bb1.contains("bad maxrows") && bb1.contains("lots"), s"$bc1 $bb1")
      val (bc2, bb2) = get(c, s"$base/operations/$opId/log?maxrows=3.5")
      assert(bc2 == 400 && bb2.contains("bad maxrows"), s"$bc2 $bb2")
    }
  }

  test("metadata operations over REST: POST starts the op, rowset pages its results") {
    withServer { (c, base) =>
      spark.sql("DROP TABLE IF EXISTS rest_md_t")
      spark.sql("CREATE TABLE rest_md_t (a INT, b STRING) USING parquet")
      try {
        val sid = extract(post(c, s"$base/sessions", """{"user": "mdres"}""")._2, "sessionId")
        def mdRows(op: String, body0: String = "{}"): String = {
          val opId = extract(post(c, s"$base/sessions/$sid/operations/$op", body0)._2,
            "operationId")
          val deadline = System.nanoTime() + 30e9.toLong
          var ev = get(c, s"$base/operations/$opId/event")._2
          while (!ev.contains("FINISHED") && !ev.contains("ERROR") &&
              System.nanoTime() < deadline) {
            Thread.sleep(100); ev = get(c, s"$base/operations/$opId/event")._2
          }
          get(c, s"$base/operations/$opId/rowset?maxrows=1000")._2
        }
        assert(mdRows("catalogs").contains("spark_catalog"))
        assert(mdRows("tableTypes").contains("TABLE"))
        assert(mdRows("typeInfo").contains("BIGINT"))
        assert(mdRows("schemas").contains("default"))
        val tables = mdRows("tables", """{"tableName": "rest_md_*"}""")
        assert(tables.contains("rest_md_t"), tables)
        val cols = mdRows("columns", """{"tableName": "default.rest_md_t"}""")
        assert(cols.contains("\"a\"") && cols.contains("\"b\""), cols)
        val fns = mdRows("functions", """{"functionName": "substr*"}""")
        assert(fns.contains("substr"), fns)
        // unsupported noun 400s; the statement alias works end-to-end
        assert(post(c, s"$base/sessions/$sid/operations/frobnicate", "{}")._1 == 400)
        val st = mdRows("statement", """{"statement": "SELECT 41 + 1 AS answer"}""")
        assert(st.contains("42"), st)
        // session count endpoint resolves (not swallowed by the {sid} route)
        val (cc, cbody) = get(c, s"$base/sessions/count")
        assert(cc == 200 && cbody.contains("openSessionCount"), cbody)
        // GetInfo vocabulary over REST
        val info = get(c, s"$base/sessions/$sid/info/17")._2
        assert(info.contains("DBMS_NAME") && info.contains("graft"), info)
        assert(get(c, s"$base/sessions/$sid/info/9999")._1 == 400)
        // a non-numeric infoType is a 400, not a parse-crash 500
        assert(get(c, s"$base/sessions/$sid/info/NaN")._1 == 400)
      } finally spark.sql("DROP TABLE IF EXISTS rest_md_t")
    }
  }

  test("openapi.json is a parseable OpenAPI 3 document covering the live routes") {
    withServer { (c, base) =>
      val (code, doc) = get(c, s"$base/openapi.json")
      assert(code == 200, doc)
      // parseable JSON (jackson rides in from Spark)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(doc)
      assert(root.get("openapi").asText().startsWith("3."), doc.take(200))
      val paths = root.get("paths")
      // spot-check routes across families, each with its verb
      assert(paths.get("/sessions").has("post") && paths.get("/sessions").has("get"))
      assert(paths.get("/operations/{operationId}/rowset").has("get"))
      assert(paths.get("/batches/{batchId}").has("delete"))
      assert(paths.get("/admin/batch/reassign").has("post"))
      // path params are declared
      assert(paths.get("/sessions/{sessionId}").has("parameters"))
    }
  }

  test("admin listing/force-close verbs: sessions, operations, server, batch count") {
    val front = new RestFrontend(new Engine(spark), port = 0,
      adminUsers = Set("root"),
      restAuth = Some(new StaticAuthenticationProvider(
        Map("root" -> "x", "mallory" -> "x"))))
    val port = front.start()
    try {
      val base = s"http://localhost:$port/api/v1"
      val c = HttpClient.newHttpClient()
      def authed(method: String, url: String, user: String): (Int, String) = {
        val cred = java.util.Base64.getEncoder.encodeToString(s"$user:x".getBytes("UTF-8"))
        val r = c.send(HttpRequest.newBuilder(URI.create(url))
          .header("Authorization", s"Basic $cred")
          .method(method, HttpRequest.BodyPublishers.noBody()).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // two users' sessions; one op left open
      val sidA = extract(post(c, s"$base/sessions", """{"user": "alice"}""")._2, "sessionId")
      val sidB = extract(post(c, s"$base/sessions", """{"user": "bob"}""")._2, "sessionId")
      val opId = extract(post(c, s"$base/sessions/$sidA/statements",
        """{"sql": "SELECT count(*) FROM range(10)"}""")._2, "operationId")
      // gate contract: no identity 401, non-admin 403
      assert(get(c, s"$base/admin/sessions")._1 == 401)
      assert(authed("GET", s"$base/admin/sessions", "mallory")._1 == 403)
      // admin sees ALL users' sessions; ?users= filters
      val (lc, lbody) = authed("GET", s"$base/admin/sessions", "root")
      assert(lc == 200 && lbody.contains(sidA) && lbody.contains(sidB), lbody)
      val (fc, fbody) = authed("GET", s"$base/admin/sessions?users=alice", "root")
      assert(fc == 200 && fbody.contains(sidA) && !fbody.contains(sidB), fbody)
      // operations listing carries alice's op; users filter empties it
      val (oc, obody) = authed("GET", s"$base/admin/operations", "root")
      assert(oc == 200 && obody.contains(opId), obody)
      val (ofc, ofbody) = authed("GET", s"$base/admin/operations?users=bob", "root")
      assert(ofc == 200 && !ofbody.contains(opId), ofbody)
      // admin cancel by handle; unknown handle 404
      assert(authed("DELETE", s"$base/admin/operations/$opId", "root")._1 == 200)
      assert(authed("DELETE", s"$base/admin/operations/nope", "root")._1 == 404)
      // admin force-close; a second close is 404, and the session list shrinks
      assert(authed("DELETE", s"$base/admin/sessions/$sidB", "root")._1 == 200)
      assert(authed("DELETE", s"$base/admin/sessions/$sidB", "root")._1 == 404)
      val (_, after) = authed("GET", s"$base/admin/sessions", "root")
      assert(!after.contains(sidB) && after.contains(sidA), after)
      // server listing answers (no gateway registered in this fixture)
      val (svc, svbody) = authed("GET", s"$base/admin/server", "root")
      assert(svc == 200 && svbody.contains("servers"), svbody)
      // batch count: one live SQL batch for the filter to find
      val bid = extract(post(c, s"$base/batches",
        """{"sql": "SELECT 1", "user": "batchy"}""")._2, "id")
      assert(bid.nonEmpty)
      val (bc, bbody) = authed("GET", s"$base/admin/batch/count?batchUser=batchy", "root")
      assert(bc == 200 && bbody.contains("\"count\": 1"), bbody)
      val (zc, zbody) = authed("GET", s"$base/admin/batch/count?batchUser=nobody", "root")
      assert(zc == 200 && zbody.contains("\"count\": 0"), zbody)
      // batch listing filters + paging (reference BatchesResource params)
      val (flc, flbody) = get(c, s"$base/batches?batchUser=batchy")
      assert(flc == 200 && flbody.contains(bid), flbody)
      val (nfc, nfbody) = get(c, s"$base/batches?batchUser=nobody")
      assert(nfc == 200 && !nfbody.contains(bid) && nfbody.contains("\"total\": 0"), nfbody)
      val (pgc, pgbody) = get(c, s"$base/batches?from=0&size=0")
      assert(pgc == 200 && !pgbody.contains(bid) && pgbody.contains("\"total\": 1"), pgbody)
    } finally front.stop()
  }

  test("admin refresh: policy edit enforced immediately; non-admin 403; deny users + profiles") {
    import java.nio.file.Files
    import graft.plans.AuthzPolicies
    val policyFile = Files.createTempFile("admin_refresh_authz", ".json")
    val denyFile = Files.createTempFile("admin_refresh_deny", ".txt")
    val denyIpsFile = Files.createTempFile("admin_refresh_deny_ips", ".txt")
    Files.write(policyFile,
      """{"accessPolicies": [{"table": "admin_refresh_t", "allowed": ["alice"]}]}""".getBytes("UTF-8"))
    val limiter = new SessionLimiter()
    val advisor = new graft.core.FileSessionConfAdvisor(Some("/nonexistent-conf-dir"))
    // admin verbs demand a REAL authenticator: identities are
    // validated, never asserted (ADVICE r13: an asserted identity made
    // the adminUsers check decorative)
    val front = new RestFrontend(new Engine(spark), port = 0,
      adminUsers = Set("root"),
      restAuth = Some(new StaticAuthenticationProvider(
        Map("root" -> "x", "mallory" -> "x"))),
      authzPolicyFile = Some(policyFile),
      confAdvisors = Seq(advisor),
      thriftLimiter = Some(limiter),
      denyUsersFile = Some(denyFile),
      denyIpsFile = Some(denyIpsFile))
    val port = front.start()
    try {
      val base = s"http://localhost:$port/api/v1"
      val c = HttpClient.newHttpClient()
      def postAuth(url: String, user: String): (Int, String) = {
        val cred = java.util.Base64.getEncoder.encodeToString(s"$user:x".getBytes("UTF-8"))
        val r = c.send(HttpRequest.newBuilder(URI.create(url))
          .header("Authorization", s"Basic $cred")
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      // no identity → 401; non-admin → 403
      assert(post(c, s"$base/admin/refresh/authz_policies", "")._1 == 401)
      assert(postAuth(s"$base/admin/refresh/authz_policies", "mallory")._1 == 403)
      // an admin USERNAME with wrong credentials is 401, not waved
      // through: the provider validates, the header asserts nothing
      val badCred = java.util.Base64.getEncoder.encodeToString("root:wrong".getBytes("UTF-8"))
      val badResp = c.send(HttpRequest.newBuilder(
        URI.create(s"$base/admin/refresh/authz_policies"))
        .header("Authorization", s"Basic $badCred")
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(badResp.statusCode() == 401, badResp.body())
      // constructing an admin surface WITHOUT an authenticator is
      // refused outright — no decorative gate
      intercept[IllegalArgumentException] {
        new RestFrontend(new Engine(spark), port = 0, adminUsers = Set("root"))
      }
      // admin refresh loads the file NOW
      assert(postAuth(s"$base/admin/refresh/authz_policies", "root")._1 == 200)
      assert(AuthzPolicies.decideAccess("alice", Set.empty, "admin_refresh_t"))
      assert(!AuthzPolicies.decideAccess("bob", Set.empty, "admin_refresh_t"))
      // edit + refresh → enforced immediately, no interval wait, even
      // when the rewrite lands inside the mtime granularity
      Files.write(policyFile,
        """{"accessPolicies": [{"table": "admin_refresh_t", "allowed": ["bob"]}]}""".getBytes("UTF-8"))
      assert(postAuth(s"$base/admin/refresh/authz_policies", "root")._1 == 200)
      assert(AuthzPolicies.decideAccess("bob", Set.empty, "admin_refresh_t"),
        "edited policy must be in force right after the refresh call")
      assert(!AuthzPolicies.decideAccess("alice", Set.empty, "admin_refresh_t"))
      // deny-list re-read lands in the live limiter
      Files.write(denyFile, "badguy\n# a comment\n\n".getBytes("UTF-8"))
      val (dc, dbody) = postAuth(s"$base/admin/refresh/deny_users", "root")
      assert(dc == 200 && dbody.contains("\"count\": 1"), s"$dc $dbody")
      assert(limiter.getDenyUsers == Set("badguy"))
      // deny-IP re-read lands in the live limiter too
      Files.write(denyIpsFile, "10.0.0.66\n# comment\n192.168.1.5\n".getBytes("UTF-8"))
      val (ic, ibody) = postAuth(s"$base/admin/refresh/deny_ips", "root")
      assert(ic == 200 && ibody.contains("\"count\": 2"), s"$ic $ibody")
      assert(limiter.getDenyIps == Set("10.0.0.66", "192.168.1.5"))
      // profile-cache invalidation reports the file advisors it cleared
      val (pc, pbody) = postAuth(s"$base/admin/refresh/session_conf_profiles", "root")
      assert(pc == 200 && pbody.contains("\"advisors\": 1"), s"$pc $pbody")
      // unknown refresh target
      assert(postAuth(s"$base/admin/refresh/nonsense", "root")._1 == 404)
    } finally {
      front.stop()
      AuthzPolicies.loadJson("{}") // restore the empty global store
      Files.deleteIfExists(policyFile)
      Files.deleteIfExists(denyFile)
      Files.deleteIfExists(denyIpsFile)
    }
  }

  // ---- uploaded-resource batches (reference BatchesResource
  // multipart POST — spark-submit of an uploaded artifact) ----

  /** Compile a tiny batch app with the in-JVM javac and jar it — a
    * REAL uploaded artifact, not a fixture checked in as bytes. The
    * app prints a marker + its args; `sleep` as arg 0 parks it so
    * kill/recovery paths have a live process to act on.
    */
  private lazy val uploadableJar: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-upload-src")
    val src = dir.resolve("GraftBatchApp.java")
    java.nio.file.Files.write(src,
      """public class GraftBatchApp {
        |  public static void main(String[] a) throws Exception {
        |    if (a.length > 0 && a[0].equals("sleep")) { Thread.sleep(300000); return; }
        |    if (a.length > 0 && a[0].equals("sleepfail")) { Thread.sleep(6000); System.exit(7); }
        |    if (a.length > 1 && a[0].equals("prop")) {
        |      System.out.println("prop=" + System.getProperty(a[1])); return;
        |    }
        |    if (a.length > 1 && a[0].equals("echo")) {
        |      StringBuilder b = new StringBuilder("echo prop=")
        |        .append(java.net.URLEncoder.encode(String.valueOf(System.getProperty(a[1])), "UTF-8"));
        |      for (int i = 2; i < a.length; i++)
        |        b.append(" arg=").append(java.net.URLEncoder.encode(a[i], "UTF-8"));
        |      System.out.println(b); return;
        |    }
        |    System.out.println("hello-from-uploaded-batch " + String.join(",", a));
        |  }
        |}
        |""".stripMargin.getBytes("UTF-8"))
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null, src.toString) == 0, "javac must succeed")
    val jar = dir.resolve("graft-batch-app.jar")
    val jos = new java.util.jar.JarOutputStream(java.nio.file.Files.newOutputStream(jar))
    try {
      jos.putNextEntry(new java.util.zip.ZipEntry("GraftBatchApp.class"))
      jos.write(java.nio.file.Files.readAllBytes(dir.resolve("GraftBatchApp.class")))
      jos.closeEntry()
    } finally jos.close()
    jar
  }

  /** Two jars for the extra-resource (sidecar) tests: a main jar whose
    * class CALLS into a dependency class shipped ONLY in the sidecar
    * jar (a method call, not a constant — javac would inline a
    * constant and defeat the test).
    */
  private lazy val (mainNeedsDepJar, sidecarJar): (java.nio.file.Path, java.nio.file.Path) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sidecar-src")
    java.nio.file.Files.write(dir.resolve("GraftDep.java"),
      """public class GraftDep {
        |  public static String message() { return "sidecar-loaded"; }
        |}
        |""".stripMargin.getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("GraftNeedsDep.java"),
      """public class GraftNeedsDep {
        |  public static void main(String[] a) {
        |    System.out.println("dep-says " + GraftDep.message());
        |  }
        |}
        |""".stripMargin.getBytes("UTF-8"))
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null,
      dir.resolve("GraftNeedsDep.java").toString, dir.resolve("GraftDep.java").toString) == 0)
    def jarOf(name: String, classes: String*): java.nio.file.Path = {
      val jar = dir.resolve(name)
      val jos = new java.util.jar.JarOutputStream(java.nio.file.Files.newOutputStream(jar))
      try classes.foreach { c =>
        jos.putNextEntry(new java.util.zip.ZipEntry(c))
        jos.write(java.nio.file.Files.readAllBytes(dir.resolve(c)))
        jos.closeEntry()
      } finally jos.close()
      jar
    }
    (jarOf("main.jar", "GraftNeedsDep.class"), jarOf("dep.jar", "GraftDep.class"))
  }

  /** multipart/form-data body with a batchRequest JSON field, the
    * resourceFile part, and optional extra file parts (the reference's
    * upload shape; extra part field names are the file names, the
    * extraResourcesMap convention).
    */
  private def multipartBody(boundary: String, requestJson: String,
      fileName: String, fileBytes: Array[Byte],
      extras: Seq[(String, Array[Byte])] = Nil): Array[Byte] = {
    val sb = new java.io.ByteArrayOutputStream()
    def text(s: String): Unit = sb.write(s.getBytes("ISO-8859-1"))
    text(s"--$boundary\r\n")
    text("Content-Disposition: form-data; name=\"batchRequest\"\r\n")
    text("Content-Type: application/json\r\n\r\n")
    text(requestJson)
    text(s"\r\n--$boundary\r\n")
    text(s"""Content-Disposition: form-data; name="resourceFile"; filename="$fileName"""" + "\r\n")
    text("Content-Type: application/octet-stream\r\n\r\n")
    sb.write(fileBytes)
    extras.foreach { case (name, bytes) =>
      text(s"\r\n--$boundary\r\n")
      text(s"""Content-Disposition: form-data; name="$name"; filename="$name"""" + "\r\n")
      text("Content-Type: application/octet-stream\r\n\r\n")
      sb.write(bytes)
    }
    text(s"\r\n--$boundary--\r\n")
    sb.toByteArray
  }

  private def postMultipart(c: HttpClient, url: String, requestJson: String,
      fileName: String, fileBytes: Array[Byte],
      extras: Seq[(String, Array[Byte])] = Nil): (Int, String) = {
    val boundary = "graftBoundary" + System.nanoTime()
    val r = c.send(HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", s"multipart/form-data; boundary=$boundary")
      .POST(HttpRequest.BodyPublishers.ofByteArray(
        multipartBody(boundary, requestJson, fileName, fileBytes, extras))).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def pollBatch(c: HttpClient, base: String, id: String,
      until: Set[String], timeoutSec: Int = 90): String = {
    var state = ""
    val deadline = System.nanoTime() + timeoutSec * 1e9.toLong
    while (!until(state) && System.nanoTime() < deadline) {
      state = extract(get(c, s"$base/batches/$id")._2, "state")
      if (!until(state)) Thread.sleep(200)
    }
    state
  }

  test("uploaded jar runs as a batch: state transitions, store record, log fetch") {
    val storeDir = java.nio.file.Files.createTempDirectory("graft-upload-store").toString
    val front = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(storeDir))
    val port = front.start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://localhost:$port/api/v1"
      val jarBytes = java.nio.file.Files.readAllBytes(uploadableJar)
      val (code, body) = postMultipart(c, s"$base/batches",
        """{"batchType": "SPARK", "className": "GraftBatchApp", "user": "uploader", "args": ["a1", "a2"]}""",
        "app.jar", jarBytes)
      assert(code == 200, body)
      val id = extract(body, "id")
      assert(extract(body, "batchType") == "SPARK")
      assert(pollBatch(c, base, id, Set("FINISHED", "ERROR")) == "FINISHED")
      val (_, full) = get(c, s"$base/batches/$id")
      assert(extract(full, "appState") == "FINISHED", full)
      // the child's stdout (with the args) came back through localLog
      val (lc, lbody) = get(c, s"$base/batches/$id/localLog")
      assert(lc == 200)
      assert(lbody.contains("hello-from-uploaded-batch a1,a2"), lbody)
      // listed beside SQL batches; terminal state persisted
      val (_, listing) = get(c, s"$base/batches")
      assert(listing.contains(id), listing)
      front.stop()
      // the persisted record survives the frontend (reopen the store)
      val sameStore = new BatchMetadataStore(storeDir)
      try {
        val rec = sameStore.get(id)
        assert(rec.exists(_.state == "FINISHED"), rec)
        assert(rec.exists(_.user == "uploader"), rec)
        assert(rec.exists(_.sql.contains("\"resourceBatch\": true")), rec)
      } finally sameStore.close()
    } finally try front.stop() catch { case _: Throwable => }
  }

  test("upload contract: disabled toggle, size cap 413, missing className") {
    val jarBytes = java.nio.file.Files.readAllBytes(uploadableJar)
    // disabled-by-conf → the reference's error shape
    val off = new RestFrontend(new Engine(spark), port = 0, resourceUploadEnabled = false)
    val offPort = off.start()
    try {
      val c = HttpClient.newHttpClient()
      val (code, body) = postMultipart(c, s"http://localhost:$offPort/api/v1/batches",
        """{"batchType": "SPARK", "className": "GraftBatchApp"}""", "app.jar", jarBytes)
      assert(code == 400 && body.contains("Batch resource upload function is disabled."), body)
    } finally off.stop()
    // size cap → 413 with the reference's message
    val capped = new RestFrontend(new Engine(spark), port = 0, resourceFileMaxSize = 64)
    val capPort = capped.start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://localhost:$capPort/api/v1"
      val (code, body) = postMultipart(c, s"$base/batches",
        """{"batchType": "SPARK", "className": "GraftBatchApp"}""", "app.jar", jarBytes)
      assert(code == 413, body)
      assert(body.contains("exceeds the maximum size limit 64 bytes"), body)
      // under the cap passes the gate (validation order: cap is on the file)
      val (mc, mbody) = postMultipart(c, s"$base/batches",
        """{"batchType": "SPARK"}""", "tiny.jar", Array[Byte](1, 2, 3))
      assert(mc == 400 && mbody.contains("classname is a required parameter"), mbody)
      // unsupported batch type named in the error
      val (tc, tbody) = postMultipart(c, s"$base/batches",
        """{"batchType": "FLINK", "className": "X"}""", "tiny.jar", Array[Byte](1))
      assert(tc == 400 && tbody.contains("FLINK is not in the supported list"), tbody)
    } finally capped.stop()
  }

  test("PYSPARK batch: uploaded .py script runs, no className required, .jar rejected") {
    val front = new RestFrontend(new Engine(spark), port = 0)
    val port = front.start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://localhost:$port/api/v1"
      val script =
        """import sys
          |print("hello-from-pyspark-batch " + ",".join(
          |    a for a in sys.argv[1:] if not a.startswith("--graft.batch.tag=")))
          |""".stripMargin.getBytes("UTF-8")
      val (code, body) = postMultipart(c, s"$base/batches",
        """{"batchType": "PYSPARK", "user": "pyuser", "args": ["p1", "p2"]}""",
        "job.py", script)
      assert(code == 200, body)
      assert(extract(body, "batchType") == "PYSPARK", body)
      val id = extract(body, "id")
      assert(pollBatch(c, base, id, Set("FINISHED", "ERROR")) == "FINISHED")
      val (_, lbody) = get(c, s"$base/batches/$id/localLog")
      assert(lbody.contains("hello-from-pyspark-batch p1,p2"), lbody)
      // a non-.py resource under PYSPARK is rejected up front
      val (jc, jbody) = postMultipart(c, s"$base/batches",
        """{"batchType": "PYSPARK"}""", "app.jar", Array[Byte](1, 2))
      assert(jc == 400 && jbody.contains("must be a .py script"), jbody)
    } finally front.stop()
  }

  test("extra resources: a jar needing a sidecar jar runs to FINISHED; missing/over-cap sidecars rejected") {
    val storeDir = java.nio.file.Files.createTempDirectory("graft-extra-store").toString
    val front = new RestFrontend(new Engine(spark), port = 0,
      batchStoreDir = Some(storeDir), extraResourceFileMaxSize = 4096)
    val port = front.start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://localhost:$port/api/v1"
      val mainBytes = java.nio.file.Files.readAllBytes(mainNeedsDepJar)
      val depBytes = java.nio.file.Files.readAllBytes(sidecarJar)
      // the main class calls into the sidecar — without --jars/classpath
      // plumbing this would NoClassDefFoundError into ERROR
      val (code, body) = postMultipart(c, s"$base/batches",
        """{"batchType": "SPARK", "className": "GraftNeedsDep",
          | "extraResourcesMap": {"spark.jars": "dep.jar"}}""".stripMargin,
        "main.jar", mainBytes, extras = Seq("dep.jar" -> depBytes))
      assert(code == 200, body)
      val id = extract(body, "id")
      assert(pollBatch(c, base, id, Set("FINISHED", "ERROR")) == "FINISHED")
      val (_, lbody) = get(c, s"$base/batches/$id/localLog")
      assert(lbody.contains("dep-says sidecar-loaded"), lbody)

      // a named-but-not-uploaded sidecar is the reference's 400
      val (mc, mbody) = postMultipart(c, s"$base/batches",
        """{"batchType": "SPARK", "className": "GraftNeedsDep",
          | "extraResourcesMap": {"spark.jars": "dep.jar,ghost.jar"}}""".stripMargin,
        "main.jar", mainBytes, extras = Seq("dep.jar" -> depBytes))
      assert(mc == 400, mbody)
      assert(mbody.contains("required extra resource files [ghost.jar] are not uploaded"), mbody)

      // an over-cap sidecar 413s and stages NOTHING (no batch dir)
      val before = Option(new java.io.File(storeDir + "/uploads").list()).map(_.toSet).getOrElse(Set.empty)
      val big = Array.fill[Byte](8192)(1)
      val (oc, obody) = postMultipart(c, s"$base/batches",
        """{"batchType": "SPARK", "className": "GraftNeedsDep",
          | "extraResourcesMap": {"spark.jars": "big.jar"}}""".stripMargin,
        "main.jar", mainBytes, extras = Seq("big.jar" -> big))
      assert(oc == 413, obody)
      assert(obody.contains("Extra resource file big.jar exceeds the maximum size limit 4096 bytes"), obody)
      val after = Option(new java.io.File(storeDir + "/uploads").list()).map(_.toSet).getOrElse(Set.empty)
      assert(after == before, s"over-cap extra must stage nothing: new = ${after -- before}")
    } finally front.stop()
  }

  test("adopted batch exit truth: a restart-surviving child that exits non-zero lands in ERROR") {
    val storeDir = java.nio.file.Files.createTempDirectory("graft-exit-truth").toString
    val jarBytes = java.nio.file.Files.readAllBytes(uploadableJar)
    val front = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(storeDir))
    val port = front.start()
    val c = HttpClient.newHttpClient()
    var id: String = null
    try {
      val (code, body) = postMultipart(c, s"http://localhost:$port/api/v1/batches",
        """{"batchType": "SPARK", "className": "GraftBatchApp", "args": ["sleepfail"]}""",
        "app.jar", jarBytes)
      assert(code == 200, body)
      id = extract(body, "id")
    } finally front.stop()
    // new incarnation adopts (or, if the child already exited and wrote
    // its record, relaunches — both paths must surface exit 7 as ERROR)
    val front2 = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(storeDir))
    val port2 = front2.start()
    try {
      val base2 = s"http://localhost:$port2/api/v1"
      val terminal = pollBatch(c, base2, id, Set("FINISHED", "ERROR", "CANCELED"), timeoutSec = 60)
      assert(terminal == "ERROR",
        s"exit code 7 must land the adopted batch in ERROR, got $terminal")
    } finally front2.stop()
  }

  test("request conf reaches the child; client-provided batch id makes retries idempotent") {
    val storeDir = java.nio.file.Files.createTempDirectory("graft-conf-store").toString
    val front = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(storeDir))
    val port = front.start()
    val c = HttpClient.newHttpClient()
    val base = s"http://localhost:$port/api/v1"
    val jarBytes = java.nio.file.Files.readAllBytes(uploadableJar)
    try {
      // spark.* conf entries ride into the child (-D on the bare-java
      // path, --conf under spark-submit); the app echoes the property
      val fixedId = java.util.UUID.randomUUID().toString
      val (code, body) = postMultipart(c, s"$base/batches",
        s"""{"batchType": "SPARK", "className": "GraftBatchApp",
           | "args": ["prop", "spark.graft.test.flag"],
           | "conf": {"spark.graft.test.flag": "hello42",
           |          "graft.batch.id": "$fixedId"}}""".stripMargin,
        "app.jar", jarBytes)
      assert(code == 200, body)
      assert(extract(body, "id") == fixedId, "client-provided id must be honored")
      assert(pollBatch(c, base, fixedId, Set("FINISHED", "ERROR")) == "FINISHED")
      val (_, lbody) = get(c, s"$base/batches/$fixedId/localLog")
      assert(lbody.contains("prop=hello42"), lbody)
      // a RETRY of the same id returns the existing batch, duplicated —
      // never a second run
      val (rc, rbody) = postMultipart(c, s"$base/batches",
        s"""{"batchType": "SPARK", "className": "GraftBatchApp",
           | "args": ["prop", "spark.graft.test.flag"],
           | "conf": {"graft.batch.id": "$fixedId"}}""".stripMargin,
        "app.jar", jarBytes)
      assert(rc == 200, rbody)
      assert(rbody.contains("\"duplicated\": true"), rbody)
      assert(extract(rbody, "state") == "FINISHED", rbody)
      // a non-UUID id is the client's error
      val (bc, bbody) = postMultipart(c, s"$base/batches",
        """{"batchType": "SPARK", "className": "GraftBatchApp",
          | "conf": {"graft.batch.id": "not-a-uuid"}}""".stripMargin,
        "app.jar", jarBytes)
      assert(bc == 400 && bbody.contains("must be an UUID"), bbody)
    } finally front.stop()
  }

  test("batch v2 submitter: a burst of submits queues PENDING, live children never exceed the pool, queued batches cancel without spawning") {
    val storeDir = java.nio.file.Files.createTempDirectory("graft-submitter").toString
    val front = new RestFrontend(new Engine(spark), port = 0,
      batchStoreDir = Some(storeDir),
      batchSubmitterEnabled = true, batchSubmitterPoolSize = 2)
    val port = front.start()
    val c = HttpClient.newHttpClient()
    val base = s"http://localhost:$port/api/v1"
    val jarBytes = java.nio.file.Files.readAllBytes(uploadableJar)
    try {
      def submit(args: String): String = {
        val (code, body) = postMultipart(c, s"$base/batches",
          s"""{"batchType": "SPARK", "className": "GraftBatchApp", "args": [$args]}""",
          "app.jar", jarBytes)
        assert(code == 200, body)
        assert(extract(body, "state") == "PENDING", s"v2 accepts as PENDING: $body")
        extract(body, "id")
      }
      // two sleepers saturate the pool; three quick jobs queue behind
      val sleepers = Seq(submit("\"sleep\""), submit("\"sleep\""))
      val quick = (1 to 3).map(i => submit(s""""q$i""""))
      // sample live children across ALL ids while the sleepers hold the
      // pool: count tagged launch roots, never more than poolSize
      import scala.jdk.CollectionConverters._
      def liveChildren(): Int = {
        def tagged(h: ProcessHandle, id: String): Boolean =
          h.isAlive && h.info().commandLine()
            .map[Boolean](_.contains(s"graft.batch.tag=$id")).orElse(false)
        (sleepers ++ quick).count { id =>
          ProcessHandle.allProcesses().iterator().asScala.exists(h =>
            tagged(h, id) && !h.parent().map[Boolean](tagged(_, id)).orElse(false))
        }
      }
      var maxLive = 0
      val sampleUntil = System.nanoTime() + 3e9.toLong
      while (System.nanoTime() < sampleUntil) {
        maxLive = math.max(maxLive, liveChildren())
        Thread.sleep(100)
      }
      assert(maxLive <= 2, s"live children must never exceed the pool: $maxLive")
      // the quick jobs are still PENDING behind the sleepers
      assert(extract(get(c, s"$base/batches/${quick.head}")._2, "state") == "PENDING")
      // a queued batch cancels without ever spawning
      val dr = c.send(HttpRequest.newBuilder(URI.create(s"$base/batches/${quick.head}"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(dr.statusCode() == 200 && dr.body().contains("CANCELED"), dr.body())
      // free the pool; everything left drains to a terminal state
      sleepers.foreach { id =>
        c.send(HttpRequest.newBuilder(URI.create(s"$base/batches/$id"))
          .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      }
      sleepers.foreach(id =>
        assert(pollBatch(c, base, id, Set("CANCELED", "FINISHED", "ERROR")) == "CANCELED"))
      quick.tail.foreach(id =>
        assert(pollBatch(c, base, id, Set("FINISHED", "ERROR", "CANCELED")) == "FINISHED",
          s"queued batch $id must drain to FINISHED"))
      assert(extract(get(c, s"$base/batches/${quick.head}")._2, "state") == "CANCELED",
        "the canceled queued batch must stay CANCELED")
    } finally front.stop()
  }

  test("cross-gateway ownership: a non-owning gateway forwards GET/DELETE to the live owner, tag-kills when the owner is gone") {
    val storeDir = java.nio.file.Files.createTempDirectory("graft-ha-store").toString
    val jarBytes = java.nio.file.Files.readAllBytes(uploadableJar)
    val a = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(storeDir))
    val portA = a.start()
    val b = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(storeDir))
    val portB = b.start()
    val c = HttpClient.newHttpClient()
    val baseA = s"http://localhost:$portA/api/v1"
    val baseB = s"http://localhost:$portB/api/v1"
    try {
      // batch lives on A; B shares only the store
      val (code, body) = postMultipart(c, s"$baseA/batches",
        """{"batchType": "SPARK", "className": "GraftBatchApp", "args": ["sleep"]}""",
        "app.jar", jarBytes)
      assert(code == 200, body)
      val id = extract(body, "id")
      // GET via B forwards to the owner: the answer is A's LIVE state,
      // not the store fallback (which would carry "restored": true)
      val (gc, gbody) = get(c, s"$baseB/batches/$id")
      assert(gc == 200 && extract(gbody, "state") == "RUNNING", gbody)
      assert(!gbody.contains("restored"), s"must be the owner's live answer: $gbody")
      // DELETE via B kills A's child process through the forward
      val handle = RestFrontend.findBatchProcessByTag(id)
      assert(handle.exists(_.isAlive), "the sleeper must be running on A")
      val dr = c.send(HttpRequest.newBuilder(URI.create(s"$baseB/batches/$id"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(dr.statusCode() == 200, dr.body())
      assert(pollBatch(c, baseB, id, Set("CANCELED", "FINISHED", "ERROR")) == "CANCELED")
      val deadline = System.nanoTime() + 15e9.toLong
      while (handle.exists(_.isAlive) && System.nanoTime() < deadline) Thread.sleep(100)
      assert(!handle.exists(_.isAlive), "owner-side child must be dead after the forwarded DELETE")

      // owner-gone fallback: a second sleeper on A, then A dies without
      // killing it; DELETE via B cannot forward and tag-kills locally
      val (c2, b2) = postMultipart(c, s"$baseA/batches",
        """{"batchType": "SPARK", "className": "GraftBatchApp", "args": ["sleep"]}""",
        "app.jar", jarBytes)
      assert(c2 == 200, b2)
      val id2 = extract(b2, "id")
      a.stop() // HTTP gone; the shared store survives (refcounted Derby)
      val handle2 = RestFrontend.findBatchProcessByTag(id2)
      assert(handle2.exists(_.isAlive), "orphan must outlive A")
      val dr2 = c.send(HttpRequest.newBuilder(URI.create(s"$baseB/batches/$id2"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(dr2.statusCode() == 200, dr2.body())
      assert(dr2.body().contains("ownerUnreachable"), dr2.body())
      val deadline2 = System.nanoTime() + 15e9.toLong
      while (handle2.exists(_.isAlive) && System.nanoTime() < deadline2) Thread.sleep(100)
      assert(!handle2.exists(_.isAlive), "orphan must be tag-killed by the fallback")
      assert(extract(get(c, s"$baseB/batches/$id2")._2, "state") == "CANCELED")
    } finally {
      try a.stop() catch { case _: Throwable => }
      try b.stop() catch { case _: Throwable => }
    }
  }

  test("admin reassign moves a dead gateway's batches: refused while alive, adopts the orphan after") {
    val storeDir = java.nio.file.Files.createTempDirectory("graft-reassign").toString
    val jarBytes = java.nio.file.Files.readAllBytes(uploadableJar)
    val a = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(storeDir))
    val portA = a.start()
    val b = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(storeDir),
      adminUsers = Set("root"),
      restAuth = Some(new StaticAuthenticationProvider(Map("root" -> "x"))))
    val portB = b.start()
    val c = HttpClient.newHttpClient()
    val baseB = s"http://localhost:$portB/api/v1"
    def reassign(from: String): (Int, String) = {
      val cred = java.util.Base64.getEncoder.encodeToString("root:x".getBytes("UTF-8"))
      val r = c.send(HttpRequest.newBuilder(URI.create(s"$baseB/admin/batch/reassign"))
        .header("Authorization", s"Basic $cred")
        .POST(HttpRequest.BodyPublishers.ofString(s"""{"from": "$from"}"""))
        .build(), HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    try {
      val (code, body) = postMultipart(c, s"http://localhost:$portA/api/v1/batches",
        """{"batchType": "SPARK", "className": "GraftBatchApp", "args": ["sleep"]}""",
        "app.jar", jarBytes)
      assert(code == 200, body)
      val id = extract(body, "id")
      val fromA = s"http://localhost:$portA"
      // reference guard: reassigning FROM a live instance is refused
      val (ac, abody) = reassign(fromA)
      assert(ac == 409 && abody.contains("gateway is alive"), s"$ac $abody")
      // A dies without killing the child; B takes its batches over
      a.stop()
      val (rc, rbody) = reassign(fromA)
      assert(rc == 200 && rbody.contains(id), rbody)
      // B now OWNS the live batch: served live (no store fallback) and
      // killable directly
      val (gc, gbody) = get(c, s"$baseB/batches/$id")
      assert(gc == 200 && extract(gbody, "state") == "RUNNING", gbody)
      assert(!gbody.contains("restored"), s"B must serve the adopted batch live: $gbody")
      val handle = RestFrontend.findBatchProcessByTag(id)
      assert(handle.exists(_.isAlive))
      c.send(HttpRequest.newBuilder(URI.create(s"$baseB/batches/$id"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(pollBatch(c, baseB, id, Set("CANCELED", "FINISHED", "ERROR")) == "CANCELED")
      val deadline = System.nanoTime() + 15e9.toLong
      while (handle.exists(_.isAlive) && System.nanoTime() < deadline) Thread.sleep(100)
      assert(!handle.exists(_.isAlive), "reassigned child must die through B's DELETE")
    } finally {
      try a.stop() catch { case _: Throwable => }
      try b.stop() catch { case _: Throwable => }
    }
  }

  test("DELETE kills a running uploaded batch; restart ADOPTS a surviving one by tag") {
    val storeDir = java.nio.file.Files.createTempDirectory("graft-upload-recover").toString
    val jarBytes = java.nio.file.Files.readAllBytes(uploadableJar)
    val front = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(storeDir))
    val port = front.start()
    val c = HttpClient.newHttpClient()
    var sleeperId: String = null
    try {
      val base = s"http://localhost:$port/api/v1"
      // a killed batch settles CANCELED (KILLED at the app-state level)
      val (kc, kbody) = postMultipart(c, s"$base/batches",
        """{"batchType": "SPARK", "className": "GraftBatchApp", "args": ["sleep"]}""",
        "app.jar", jarBytes)
      assert(kc == 200, kbody)
      val killId = extract(kbody, "id")
      assert(extract(kbody, "state") == "RUNNING", kbody)
      val (dc, _) = c.send(HttpRequest.newBuilder(URI.create(s"$base/batches/$killId"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString()) match {
        case r => (r.statusCode(), r.body())
      }
      assert(dc == 200)
      assert(pollBatch(c, base, killId, Set("CANCELED", "FINISHED", "ERROR")) == "CANCELED")
      assert(extract(get(c, s"$base/batches/$killId")._2, "appState") == "KILLED")
      // now a sleeper that will OUTLIVE this frontend
      val (sc, sbody) = postMultipart(c, s"$base/batches",
        """{"batchType": "SPARK", "className": "GraftBatchApp", "user": "survivor", "args": ["sleep"]}""",
        "app.jar", jarBytes)
      assert(sc == 200, sbody)
      sleeperId = extract(sbody, "id")
    } finally front.stop()
    // the child JVM survived the frontend stop
    val handle = RestFrontend.findBatchProcessByTag(sleeperId)
    assert(handle.exists(_.isAlive), "batch child must survive the server restart")
    // a new incarnation over the same store ADOPTS it (no double submit)
    val front2 = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(storeDir))
    val port2 = front2.start()
    try {
      val base2 = s"http://localhost:$port2/api/v1"
      val (gc, gbody) = get(c, s"$base2/batches/$sleeperId")
      assert(gc == 200 && extract(gbody, "state") == "RUNNING", gbody)
      // exactly one LAUNCH carries the tag: adopted, not re-launched.
      // The exit-file wrapper makes two processes per launch carry it
      // (the sh wrapper + the JVM under it), so count tag ROOTS — the
      // tagged processes whose parent is untagged — exactly like the
      // server's adoption scan.
      import scala.jdk.CollectionConverters._
      def taggedPids(): Set[Long] = {
        def tagged(h: ProcessHandle): Boolean =
          h.isAlive && h.info().commandLine()
            .map[Boolean](_.contains(s"graft.batch.tag=$sleeperId")).orElse(false)
        ProcessHandle.allProcesses().iterator().asScala
          .filter(h => tagged(h) && !h.parent().map[Boolean](tagged(_)).orElse(false))
          .map(_.pid()).toSet
      }
      // settle-retry: under a loaded box the process table transiently
      // shows fork-in-flight duplicates of a spawning JVM's command
      // line. The grace window tolerates ONLY that: the ORIGINAL pid
      // must persist throughout, so a real double-launch that replaced
      // the sleeper (original gone) fails immediately, and a duplicate
      // that outlives the window fails on the count.
      val originalPid = handle.get.pid()
      var tagged = taggedPids()
      val tagDeadline = System.nanoTime() + 10e9.toLong
      while (tagged != Set(originalPid) && System.nanoTime() < tagDeadline) {
        assert(tagged.contains(originalPid),
          s"original $originalPid vanished mid-window; a duplicate replaced it: $tagged")
        Thread.sleep(200)
        tagged = taggedPids()
      }
      assert(tagged == Set(originalPid),
        s"expected only the adopted original $originalPid, found $tagged")
      // kill through the NEW incarnation; the handle dies
      c.send(HttpRequest.newBuilder(URI.create(s"$base2/batches/$sleeperId"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(pollBatch(c, base2, sleeperId, Set("CANCELED", "FINISHED", "ERROR")) == "CANCELED")
      val deadline = System.nanoTime() + 15e9.toLong
      while (handle.exists(_.isAlive) && System.nanoTime() < deadline) Thread.sleep(100)
      assert(!handle.exists(_.isAlive), "adopted child must be dead after DELETE")
    } finally front2.stop()
  }

  test("batch submission is fire-and-forget with state polling") {
    withServer { (c, base) =>
      val (bc, bbody) = post(c, s"$base/batches", """{"sql": "SELECT count(*) FROM range(100000)"}""")
      assert(bc == 200)
      val id = extract(bbody, "id")
      var state = extract(bbody, "state")
      val deadline = System.nanoTime() + 30e9.toLong
      while (!Set("FINISHED", "ERROR")(state) && System.nanoTime() < deadline) {
        val (_, st) = get(c, s"$base/batches/$id")
        state = extract(st, "state")
        Thread.sleep(100)
      }
      assert(state == "FINISHED")
      // the ApplicationState vocabulary rides along: a finished
      // batch reports appState FINISHED (what a YARN report / K8s pod
      // mapping would say for the same outcome)
      val (_, stFull) = get(c, s"$base/batches/$id")
      assert(extract(stFull, "appState") == "FINISHED", stFull)
      // operation log is fetchable and incremental
      val (lc, lbody) = get(c, s"$base/batches/$id/localLog")
      assert(lc == 200)
      assert(lbody.contains("-> FINISHED"), lbody)
      val (_, again) = get(c, s"$base/batches/$id/localLog")
      assert(again.contains("\"rowCount\": 0"), s"second drain should be empty: $again")
      // the event-bus-fed metrics surface saw this batch
      val (mc, mbody) = get(c, s"$base/metrics")
      assert(mc == 200)
      def counter(name: String): Long = {
        val m = java.util.regex.Pattern.compile("\"" + name + "\":\\s*(\\d+)").matcher(mbody)
        if (m.find()) m.group(1).toLong else -1L
      }
      assert(counter("sessions_opened") >= 1, mbody)
      assert(counter("operations_finished") >= 1, mbody)
      assert(counter("heap_used_bytes") > 0, mbody)
    }
  }

  test("Trino-wire protocol: POST /v1/statement, follow nextUri to data") {
    withServer { (c, base) =>
      val root = base.stripSuffix("/api/v1")
      val (pc, pbody) = post(c, s"$root/v1/statement", "SELECT id * 3 AS triple FROM range(4)")
      assert(pc == 200, pbody)
      var doc = pbody
      var hops = 0
      while (doc.contains("nextUri") && hops < 100) {
        val m = java.util.regex.Pattern.compile("\"nextUri\"\\s*:\\s*\"([^\"]*)\"").matcher(doc)
        assert(m.find())
        Thread.sleep(100)
        doc = get(c, root + m.group(1))._2
        hops += 1
      }
      assert(doc.contains("\"state\": \"FINISHED\""), doc)
      assert(doc.contains("\"name\": \"triple\""), doc)
      assert(doc.contains("[9]"), s"row data missing: $doc")
      // failures surface as Trino error documents
      val (_, fbody) = post(c, s"$root/v1/statement", "SELECT bogus FROM nothing")
      var fdoc = fbody
      hops = 0
      while (fdoc.contains("nextUri") && hops < 100) {
        val m = java.util.regex.Pattern.compile("\"nextUri\"\\s*:\\s*\"([^\"]*)\"").matcher(fdoc)
        assert(m.find()); Thread.sleep(100)
        fdoc = get(c, root + m.group(1))._2
        hops += 1
      }
      assert(fdoc.contains("\"state\": \"FAILED\"") && fdoc.contains("error"), fdoc)
    }
  }

  test("Trino nextUri GETs long-poll: a no-pause client reaches the final document in a handful") {
    import graft.core.Operation.StatusWaitMs
    withServer { (c, base) =>
      val root = base.stripSuffix("/api/v1")
      val next = java.util.regex.Pattern.compile("\"nextUri\"\\s*:\\s*\"([^\"]*)\"")
      val t0 = System.nanoTime()
      val (pc, pbody) = post(c, s"$root/v1/statement",
        "SELECT reflect('java.lang.Thread', 'sleep', CAST(2000 AS BIGINT)) AS z")
      assert(pc == 200, pbody)
      var doc = pbody
      var gets = 0
      val deadline = t0 + 60e9.toLong
      while (doc.contains("nextUri") && System.nanoTime() < deadline) {
        val m = next.matcher(doc)
        assert(m.find())
        doc = get(c, root + m.group(1))._2
        gets += 1
      }
      val ms = (System.nanoTime() - t0) / 1e6
      assert(doc.contains("\"state\": \"FINISHED\""), doc)
      val bound = math.ceil(ms / StatusWaitMs).toInt + 2
      assert(gets <= bound, s"$gets nextUri GETs over ${ms.round} ms (bound $bound)")

      // a DELETE wakes a GET blocked on a long query
      val (_, lbody) = post(c, s"$root/v1/statement",
        "SELECT reflect('java.lang.Thread', 'sleep', CAST(60000 AS BIGINT)) AS z")
      val id = extract(lbody, "id")
      val m = next.matcher(lbody)
      assert(m.find())
      val uri = root + m.group(1)
      assert(get(c, uri)._2.contains("nextUri"), "the query should still run")
      val blocked = scala.concurrent.Future {
        val t = System.nanoTime()
        val body = get(c, uri)._2
        (body, (System.nanoTime() - t) / 1e6)
      }(scala.concurrent.ExecutionContext.global)
      Thread.sleep(StatusWaitMs / 5) // let the GET reach the server and block
      val del = c.send(HttpRequest.newBuilder(URI.create(s"$root/v1/statement/$id"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() == 204)
      val (cdoc, cms) = scala.concurrent.Await.result(blocked,
        scala.concurrent.duration.Duration(60, "s"))
      assert(cdoc.contains("\"state\": \"CANCELED\""), cdoc)
      assert(cms < StatusWaitMs, s"blocked GET held ${cms.round} ms")
    }
  }

  test("Trino columns are typed with typeSignature; errors are Trino documents") {
    withServer { (c, base) =>
      val root = base.stripSuffix("/api/v1")
      val (pc, pbody) = post(c, s"$root/v1/statement",
        "SELECT 1 AS i, CAST(2 AS BIGINT) AS l, 'x' AS s, 1.5D AS d, true AS b, " +
          "CAST(1.25 AS DECIMAL(10,2)) AS dec, DATE'2026-01-01' AS dt, ARRAY(1,2) AS arr")
      assert(pc == 200, pbody)
      var doc = pbody
      var hops = 0
      while (doc.contains("nextUri") && hops < 100) {
        val m = java.util.regex.Pattern.compile("\"nextUri\"\\s*:\\s*\"([^\"]*)\"").matcher(doc)
        assert(m.find()); Thread.sleep(100)
        doc = get(c, root + m.group(1))._2
        hops += 1
      }
      assert(doc.contains("\"state\": \"FINISHED\""), doc)
      for (t <- Seq("integer", "bigint", "varchar", "double", "boolean",
          "decimal(10,2)", "date", "array(integer)"))
        assert(doc.contains(s""""type": "$t""""), s"missing type $t in $doc")
      assert(doc.contains(""""typeSignature": {"rawType": "decimal""""), doc)
      assert(doc.contains(""""rawType": "array""""), doc)

      // the Trino error document carries code/name/type, not just a message
      val (_, fbody) = post(c, s"$root/v1/statement", "SELECT definitely_not_a_column")
      var fdoc = fbody
      hops = 0
      while (fdoc.contains("nextUri") && hops < 100) {
        val m = java.util.regex.Pattern.compile("\"nextUri\"\\s*:\\s*\"([^\"]*)\"").matcher(fdoc)
        assert(m.find()); Thread.sleep(100)
        fdoc = get(c, root + m.group(1))._2
        hops += 1
      }
      assert(fdoc.contains("\"errorName\": \"GENERIC_INTERNAL_ERROR\""), fdoc)
      assert(fdoc.contains("\"errorType\": \"INTERNAL_ERROR\""), fdoc)
      assert(fdoc.contains("\"errorCode\": 65536"), fdoc)
    }
  }

  test("SQL lab page serves and drives the same statement lifecycle it scripts") {
    withServer { (c, base) =>
      val root = base.stripSuffix("/api/v1")
      val (pc, page) = get(c, s"$root/ui/sql")
      assert(pc == 200)
      // the page scripts exactly the REST statement lifecycle — walk
      // the same calls it makes and prove they compose
      for (path <- Seq("/api/v1/sessions", "/statements", "/result?maxRows="))
        assert(page.contains(path), s"page must call $path")
      assert(get(c, s"$root/ui")._2.contains("/ui/sql"), "overview must link the lab")
      val (sc, sbody) = post(c, s"$base/sessions", """{"user": "sql-lab"}""")
      assert(sc == 200)
      val sid = extract(sbody, "sessionId")
      val (qc, qbody) = post(c, s"$base/sessions/$sid/statements",
        """{"sql": "SELECT id, id * id AS sq FROM range(3)"}""")
      assert(qc == 200)
      val opId = extract(qbody, "operationId")
      var state = ""
      var tries = 0
      while (state != "FINISHED" && tries < 100) {
        Thread.sleep(100)
        state = extract(get(c, s"$base/sessions/$sid/statements/$opId")._2, "state")
        tries += 1
      }
      val (rc, rbody) = get(c, s"$base/sessions/$sid/statements/$opId/result?maxRows=200")
      assert(rc == 200 && rbody.contains("\"sq\":4"), rbody)
    }
  }

  test("event history endpoint serves the newest events, bounded and well-formed") {
    withServer { (c, base) =>
      // drive a full lifecycle so several event types exist
      val (_, sbody) = post(c, s"$base/sessions", """{"user": "evty"}""")
      val sid = extract(sbody, "sessionId")
      val (_, qbody) = post(c, s"$base/sessions/$sid/statements",
        """{"sql": "SELECT 1 AS one"}""")
      val opId = extract(qbody, "operationId")
      var tries = 0
      var state = ""
      while (state != "FINISHED" && tries < 100) {
        Thread.sleep(100)
        state = extract(get(c, s"$base/sessions/$sid/statements/$opId")._2, "state")
        tries += 1
      }
      val (ec, ebody) = get(c, s"$base/events?limit=50")
      assert(ec == 200)
      assert(ebody.contains(""""event":"session"""") &&
        ebody.contains(""""event":"operation""""), ebody.take(400))
      assert(ebody.contains(""""action":"OPENED"""") && ebody.contains(sid))
      // limit respected: exactly one event object in the array
      val (_, one) = get(c, s"$base/events?limit=1")
      assert("\"event\":".r.findAllIn(one).size == 1,
        s"limit=1 must return one event: $one")
      // a malformed or negative limit is the client's error: 400, not
      // a NumberFormatException-turned-500 (r10 ADVICE)
      assert(get(c, s"$base/events?limit=abc")._1 == 400)
      assert(get(c, s"$base/events?limit=-5")._1 == 400)
    }
  }

  test("events ring capacity is a conf; evictions show up as a metric") {
    // tiny capacity: the ring holds 3 events, everything older is
    // evicted and COUNTED (graft.server.events.ring.capacity conf +
    // events_ring_dropped gauge — r10 VERDICT #9)
    spark.conf.set("graft.server.events.ring.capacity", "3")
    val front = new RestFrontend(new Engine(spark), port = 0)
    val port = front.start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://localhost:$port/api/v1"
      val (_, sbody) = post(c, s"$base/sessions", """{"user": "ringy"}""")
      val sid = extract(sbody, "sessionId")
      // each statement produces several operation events; run enough
      // to overflow a 3-slot ring
      (1 to 3).foreach { i =>
        val (_, qb) = post(c, s"$base/sessions/$sid/statements",
          s"""{"sql": "SELECT $i AS n"}""")
        val opId = extract(qb, "operationId")
        var tries = 0
        while (extract(get(c, s"$base/sessions/$sid/statements/$opId")._2,
            "state") != "FINISHED" && tries < 100) { Thread.sleep(50); tries += 1 }
      }
      val (ec, ebody) = get(c, s"$base/events?limit=100")
      assert(ec == 200)
      assert("\"event\":".r.findAllIn(ebody).size == 3,
        s"ring must hold exactly its capacity: $ebody")
      // the OLDEST event (the session OPENED) must be evicted
      assert(!ebody.contains(""""action":"OPENED""""), s"oldest must evict: $ebody")
      val (_, mbody) = get(c, s"$base/metrics")
      val dropped = """"events_ring_dropped": (\d+)""".r
        .findFirstMatchIn(mbody).map(_.group(1).toLong)
      assert(dropped.exists(_ >= 1), s"evictions must be counted: $mbody")
      assert(mbody.contains(""""events_ring_capacity": 3"""), mbody)
    } finally {
      front.stop()
      spark.conf.unset("graft.server.events.ring.capacity")
    }
  }

  test("engines page lists discovery registrations; links resolve to the drill-down") {
    withServer { (c, base) =>
      val root = base.stripSuffix("/api/v1")
      // opening a session materializes a share-scope engine space
      val (sc, _) = post(c, s"$base/sessions", """{"user": "enguser"}""")
      assert(sc == 200)
      // admin JSON surface
      val (ac, abody) = get(c, s"$base/admin/engines")
      assert(ac == 200 && abody.contains("user/enguser"), abody)
      // UI list page renders the space as a link
      val (lc, lbody) = get(c, s"$root/ui/engines")
      assert(lc == 200, lbody)
      assert(lbody.contains("user/enguser"), lbody)
      val href = {
        val m = java.util.regex.Pattern
          .compile("href=\"(/ui/engines/[^\"]+)\"").matcher(lbody)
        assert(m.find(), s"no engine link in $lbody"); m.group(1)
      }
      // the link resolves to a drill-down listing the registration
      val (dc, dbody) = get(c, root + href)
      assert(dc == 200, dbody)
      assert(dbody.contains("registrations") && dbody.contains("enguser"), dbody)
      // unknown space → 404
      assert(get(c, s"$root/ui/engines/none/such")._1 == 404)
    }
  }

  test("UI sessions/operations/server pages render live state; operation page shows timeline") {
    withServer { (c, base) =>
      val root = base.stripSuffix("/api/v1")
      val (_, sbody) = post(c, s"$base/sessions", """{"user": "uiuser"}""")
      val sid = extract(sbody, "sessionId")
      val (_, qbody) = post(c, s"$base/sessions/$sid/statements",
        """{"sql": "SELECT 41 AS answer"}""")
      val opId = extract(qbody, "operationId")
      var tries = 0
      while (extract(get(c, s"$base/sessions/$sid/statements/$opId")._2,
          "state") != "FINISHED" && tries < 100) { Thread.sleep(50); tries += 1 }

      // sessions management page: the session, its user, its op count
      val (slc, slbody) = get(c, s"$root/ui/sessions")
      assert(slc == 200 && slbody.contains(sid) && slbody.contains("uiuser"), slbody)
      // operations management page: handle, state, statement, session link
      val (olc, olbody) = get(c, s"$root/ui/operations")
      assert(olc == 200 && olbody.contains(opId), olbody)
      assert(olbody.contains("SELECT 41 AS answer") && olbody.contains("FINISHED"), olbody)
      assert(olbody.contains(s"/ui/session/$sid"), olbody)
      // operation drill-down: session link + event timeline from the ring
      val (oc, obody) = get(c, s"$root/ui/operation/$opId")
      assert(oc == 200, obody)
      assert(obody.contains("event timeline") && obody.contains("FINISHED"), obody)
      assert(obody.contains(s"/ui/session/$sid"), obody)
      // server page: engine identity + live metrics snapshot
      val (vc, vbody) = get(c, s"$root/ui/server")
      assert(vc == 200, vbody)
      assert(vbody.contains("engine id") && vbody.contains("share level"), vbody)
      assert(vbody.contains("operations_finished") && vbody.contains("uptime_ms"), vbody)
      // overview links the three new pages
      val (_, over) = get(c, s"$root/ui")
      assert(over.contains("/ui/sessions") && over.contains("/ui/operations")
        && over.contains("/ui/server"), over.take(400))
    }
  }

  test("Trino prepared statements: PREPARE/EXECUTE USING/DEALLOCATE round-trip") {
    withServer { (c, base) =>
      val root = base.stripSuffix("/api/v1")
      val prepSql = "SELECT id * ? AS scaled FROM range(?) WHERE id >= ?"

      // PREPARE → FINISHED control doc + X-Trino-Added-Prepare header
      val pReq = HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
        .POST(HttpRequest.BodyPublishers.ofString(s"PREPARE stmt1 FROM $prepSql")).build()
      val pResp = c.send(pReq, HttpResponse.BodyHandlers.ofString())
      assert(pResp.statusCode() == 200, pResp.body())
      assert(pResp.body().contains(""""updateType": "PREPARE""""), pResp.body())
      val added = pResp.headers().firstValue("X-Trino-Added-Prepare")
      assert(added.isPresent, "Added-Prepare header missing")
      val Array(name, enc) = added.get.split("=", 2)
      assert(name == "stmt1")
      assert(java.net.URLDecoder.decode(enc, "UTF-8") == prepSql)

      // EXECUTE ... USING binds positionally; the client carries the
      // prepared statement back in X-Trino-Prepared-Statement
      val eReq = HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
        .header("X-Trino-Prepared-Statement", added.get)
        .POST(HttpRequest.BodyPublishers.ofString("EXECUTE stmt1 USING 10, 5, 3")).build()
      val eResp = c.send(eReq, HttpResponse.BodyHandlers.ofString())
      assert(eResp.statusCode() == 200, eResp.body())
      var doc = eResp.body()
      var hops = 0
      while (doc.contains("nextUri") && hops < 100) {
        val m = java.util.regex.Pattern.compile("\"nextUri\"\\s*:\\s*\"([^\"]*)\"").matcher(doc)
        assert(m.find()); Thread.sleep(100)
        doc = get(c, root + m.group(1))._2
        hops += 1
      }
      assert(doc.contains("\"state\": \"FINISHED\""), doc)
      assert(doc.contains("\"name\": \"scaled\""), doc)
      // ids 3,4 scaled by 10
      assert(doc.contains("[30]") && doc.contains("[40]"), s"bound rows missing: $doc")

      // parameter-count mismatches are client errors
      val badReq = HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
        .header("X-Trino-Prepared-Statement", added.get)
        .POST(HttpRequest.BodyPublishers.ofString("EXECUTE stmt1 USING 1")).build()
      assert(c.send(badReq, HttpResponse.BodyHandlers.ofString()).statusCode() == 400)
      // a string parameter with a quoted '?' is data, not a placeholder
      val pr2 = HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "PREPARE stmt2 FROM SELECT concat(?, '?') AS s")).build()
      val added2 = c.send(pr2, HttpResponse.BodyHandlers.ofString())
        .headers().firstValue("X-Trino-Added-Prepare").get
      val e2 = HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
        .header("X-Trino-Prepared-Statement", added2)
        .POST(HttpRequest.BodyPublishers.ofString("EXECUTE stmt2 USING 'a,b'")).build()
      var d2 = c.send(e2, HttpResponse.BodyHandlers.ofString()).body()
      hops = 0
      while (d2.contains("nextUri") && hops < 100) {
        val m = java.util.regex.Pattern.compile("\"nextUri\"\\s*:\\s*\"([^\"]*)\"").matcher(d2)
        assert(m.find()); Thread.sleep(100)
        d2 = get(c, root + m.group(1))._2
        hops += 1
      }
      assert(d2.contains("a,b?"), s"quoted placeholder mishandled: $d2")

      // unknown name → 400; DEALLOCATE → Deallocated-Prepare header
      val uReq = HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
        .POST(HttpRequest.BodyPublishers.ofString("EXECUTE ghost USING 1")).build()
      assert(c.send(uReq, HttpResponse.BodyHandlers.ofString()).statusCode() == 400)
      val dReq = HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
        .POST(HttpRequest.BodyPublishers.ofString("DEALLOCATE PREPARE stmt1")).build()
      val dResp = c.send(dReq, HttpResponse.BodyHandlers.ofString())
      assert(dResp.statusCode() == 200)
      assert(dResp.headers().firstValue("X-Trino-Deallocated-Prepare").orElse("") == "stmt1")
      assert(dResp.body().contains(""""updateType": "DEALLOCATE""""), dResp.body())
    }
  }

  test("Trino session properties: SET SESSION echoes the header and affects later statements") {
    withServer { (c, base) =>
      val root = base.stripSuffix("/api/v1")
      // SET SESSION → control doc + X-Trino-Set-Session echo
      val sReq = HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "SET SESSION spark.sql.shuffle.partitions = '7'")).build()
      val sResp = c.send(sReq, HttpResponse.BodyHandlers.ofString())
      assert(sResp.statusCode() == 200, sResp.body())
      assert(sResp.body().contains(""""updateType": "SET SESSION""""), sResp.body())
      val setHdr = sResp.headers().firstValue("X-Trino-Set-Session")
      assert(setHdr.isPresent && setHdr.get == "spark.sql.shuffle.partitions=7", setHdr)

      // the client carries the property on the next request; the
      // engine session conf must reflect it when the statement runs
      def runWithSession(hdr: Option[String], sql: String): String = {
        val b = HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
          .POST(HttpRequest.BodyPublishers.ofString(sql))
        hdr.foreach(b.header("X-Trino-Session", _))
        var doc = c.send(b.build(), HttpResponse.BodyHandlers.ofString()).body()
        var hops = 0
        while (doc.contains("nextUri") && hops < 100) {
          val m = java.util.regex.Pattern.compile("\"nextUri\"\\s*:\\s*\"([^\"]*)\"").matcher(doc)
          assert(m.find()); Thread.sleep(100)
          doc = get(c, root + m.group(1))._2
          hops += 1
        }
        doc
      }
      val withProp = runWithSession(Some(setHdr.get), "SET spark.sql.shuffle.partitions")
      assert(withProp.contains("\"7\"") || withProp.contains("[\"spark.sql.shuffle.partitions\",\"7\"]"),
        s"session property must reach the engine conf: $withProp")
      // without the header, a fresh statement sees the default (32)
      val withoutProp = runWithSession(None, "SET spark.sql.shuffle.partitions")
      assert(!withoutProp.contains("\"7\""), s"property must not leak without the header: $withoutProp")

      // the scheduler-pool knob composes with the Trino wire: a client
      // carrying the pool property lands its statements' jobs in the
      // named FAIR pool (Operation.withJobGroup applies it per statement)
      val pools = new java.util.concurrent.CopyOnWriteArrayList[String]()
      val poolTap = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val p = js.properties.getProperty("spark.scheduler.pool")
          if (p != null) pools.add(p)
        }
      }
      spark.sparkContext.addSparkListener(poolTap)
      try {
        val poolHdr = "spark.graft.operation.scheduler.pool=" +
          java.net.URLEncoder.encode("trino_tenant", "UTF-8")
        runWithSession(Some(poolHdr), "SELECT sum(id) FROM range(100000)")
        val deadline = System.nanoTime() + 10e9.toLong
        while (!pools.contains("trino_tenant") && System.nanoTime() < deadline)
          Thread.sleep(50)
        assert(pools.contains("trino_tenant"),
          s"Trino statement must run in the carried pool: $pools")
      } finally spark.sparkContext.removeSparkListener(poolTap)

      // RESET SESSION echoes its header
      val rReq = HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
        .POST(HttpRequest.BodyPublishers.ofString(
          "RESET SESSION spark.sql.shuffle.partitions")).build()
      val rResp = c.send(rReq, HttpResponse.BodyHandlers.ofString())
      assert(rResp.statusCode() == 200)
      assert(rResp.headers().firstValue("X-Trino-Reset-Session").orElse("")
        == "spark.sql.shuffle.partitions")
      // the reserved identity namespace is not settable from the wire
      val evil = runWithSession(Some("spark.graft.authz.user=admin"), "SELECT 1 AS one")
      assert(evil.contains("FINISHED"), evil)
      val evil2 = runWithSession(Some("graft.server.session.group=admins"), "SELECT 1 AS one")
      assert(evil2.contains("FINISHED"), evil2)
    }
  }

  test("Trino catalog/schema headers: USE echoes Set-Catalog/-Schema; an unqualified name resolves in the header namespace") {
    withServer { (c, base) =>
      val root = base.stripSuffix("/api/v1")
      spark.sql("CREATE DATABASE IF NOT EXISTS trino_hdr_db")
      spark.sql("DROP TABLE IF EXISTS trino_hdr_db.hdr_t")
      spark.sql("CREATE TABLE trino_hdr_db.hdr_t USING parquet AS SELECT 41 + 1 AS answer")
      try {
        // USE catalog.schema → the server acknowledges with BOTH echo
        // headers (the client carries them forward, Trino-style)
        val useResp = c.send(HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
          .POST(HttpRequest.BodyPublishers.ofString("USE spark_catalog.trino_hdr_db")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(useResp.statusCode() == 200, useResp.body())
        assert(useResp.body().contains(""""updateType": "USE""""), useResp.body())
        assert(useResp.headers().firstValue("X-Trino-Set-Catalog").orElse("") == "spark_catalog")
        assert(useResp.headers().firstValue("X-Trino-Set-Schema").orElse("") == "trino_hdr_db")
        // schema-only USE echoes only the schema
        val useSchema = c.send(HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
          .POST(HttpRequest.BodyPublishers.ofString("USE trino_hdr_db")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(useSchema.headers().firstValue("X-Trino-Set-Schema").orElse("") == "trino_hdr_db")
        assert(useSchema.headers().firstValue("X-Trino-Set-Catalog").isEmpty)

        def run(sql: String, headers: (String, String)*): String = {
          val b = HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
            .POST(HttpRequest.BodyPublishers.ofString(sql))
          headers.foreach { case (k, v) => b.header(k, v) }
          var doc = c.send(b.build(), HttpResponse.BodyHandlers.ofString()).body()
          var hops = 0
          while (doc.contains("nextUri") && hops < 100) {
            val m = java.util.regex.Pattern
              .compile("\"nextUri\"\\s*:\\s*\"([^\"]*)\"").matcher(doc)
            assert(m.find()); Thread.sleep(100)
            doc = get(c, root + m.group(1))._2
            hops += 1
          }
          doc
        }
        // carried headers: the UNQUALIFIED name resolves in the
        // header-named namespace
        val ok = run("SELECT answer FROM hdr_t",
          "X-Trino-Catalog" -> "spark_catalog", "X-Trino-Schema" -> "trino_hdr_db")
        assert(ok.contains("FINISHED") && ok.contains("42"), ok)
        // without the headers the same statement fails to resolve
        val bare = run("SELECT answer FROM hdr_t")
        assert(bare.contains("FAILED") || bare.contains("error"),
          s"unqualified name must not resolve outside the header namespace: $bare")
      } finally {
        spark.sql("DROP TABLE IF EXISTS trino_hdr_db.hdr_t")
        spark.sql("DROP DATABASE IF EXISTS trino_hdr_db")
      }
    }
  }

  test("Trino DELETE cancels a running query") {
    withServer { (c, base) =>
      val root = base.stripSuffix("/api/v1")
      // count over a non-foldable predicate: long-running but immune to
      // the ANSI overflow that sum(xxhash64(...)) hits when a fast box
      // aggregates enough full-range hashes before the cancel lands
      val slow = "SELECT count(*) FROM range(2000000000) WHERE xxhash64(cast(id AS string)) % 3 >= 0"
      val (pc, pbody) = post(c, s"$root/v1/statement", slow)
      assert(pc == 200, pbody)
      val id = extract(pbody, "id")
      val del = c.send(HttpRequest.newBuilder(URI.create(s"$root/v1/statement/$id/1"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() == 204, s"${del.statusCode()} ${del.body()}")
      var state = ""
      val deadline = System.nanoTime() + 30e9.toLong
      while (!Set("CANCELED", "FAILED")(state) && System.nanoTime() < deadline) {
        val (_, gbody) = get(c, s"$root/v1/statement/$id/1")
        state = extract(gbody, "state")
        if (!Set("CANCELED", "FAILED")(state)) Thread.sleep(100)
      }
      assert(state == "CANCELED", state)
      val (_, gbody) = get(c, s"$root/v1/statement/$id/1")
      assert(gbody.contains("\"errorName\": \"USER_CANCELED\""), gbody)
    }
  }

  test("Trino statements close their engine sessions after the final document") {
    val engine = new Engine(spark)
    val front = new RestFrontend(engine, port = 0)
    val root = s"http://localhost:${front.start()}"
    try {
      val c = HttpClient.newHttpClient()
      val baseline = engine.openSessionCount
      for (n <- 1 to 3) {
        var doc = post(c, s"$root/v1/statement", s"SELECT id + $n AS v FROM range(3)")._2
        var hops = 0
        while (doc.contains("nextUri") && hops < 100) {
          val m = java.util.regex.Pattern.compile("\"nextUri\"\\s*:\\s*\"([^\"]*)\"").matcher(doc)
          assert(m.find()); Thread.sleep(50)
          doc = get(c, root + m.group(1))._2
          hops += 1
        }
        assert(doc.contains("\"state\": \"FINISHED\"") && doc.contains(s"[${n + 2}]"), doc)
      }
      // the close runs just after the final document is sent
      val deadline = System.nanoTime() + 30e9.toLong
      while (engine.openSessionCount != baseline && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(engine.openSessionCount == baseline,
        s"${engine.openSessionCount - baseline} Trino engine sessions left open")
    } finally front.stop()
  }

  test("Trino queries that fail or are deleted close their engine sessions") {
    val engine = new Engine(spark)
    val front = new RestFrontend(engine, port = 0)
    val root = s"http://localhost:${front.start()}"
    val closed = new java.util.concurrent.LinkedBlockingQueue[String]()
    val onClose = new graft.core.Events.Handler {
      override def onEvent(e: graft.core.Events.Event): Unit = e match {
        case graft.core.Events.SessionEvent(sid, _, "CLOSED", _) => closed.put(sid)
        case _ => ()
      }
    }
    graft.core.Events.register(onClose)
    // every open session of this engine is closed: wait on CLOSED events
    def awaitSessions(baseline: Int): Unit =
      while (engine.openSessionCount != baseline)
        if (closed.poll(30, java.util.concurrent.TimeUnit.SECONDS) == null)
          fail(s"${engine.openSessionCount - baseline} Trino engine sessions left open")
    try {
      val c = HttpClient.newHttpClient()
      val next = java.util.regex.Pattern.compile("\"nextUri\"\\s*:\\s*\"([^\"]*)\"")
      val baseline = engine.openSessionCount
      var doc = post(c, s"$root/v1/statement", "SELECT no_such_col")._2
      var uri = ""
      while (doc.contains("nextUri")) {
        val m = next.matcher(doc)
        assert(m.find())
        uri = root + m.group(1)
        doc = get(c, uri)._2
      }
      assert(doc.contains("\"state\": \"FAILED\""), doc)
      awaitSessions(baseline)
      // the error document outlives the session
      if (uri.nonEmpty) assert(get(c, uri) == (200, doc))
      // a query refused before it starts, here for a missing schema
      val refused = c.send(HttpRequest.newBuilder(URI.create(s"$root/v1/statement"))
        .header("X-Trino-Schema", "no_such_schema")
        .POST(HttpRequest.BodyPublishers.ofString("SELECT 1")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(refused.statusCode() == 500, refused.body())
      awaitSessions(baseline)
      val (_, lbody) = post(c, s"$root/v1/statement",
        "SELECT reflect('java.lang.Thread', 'sleep', CAST(60000 AS BIGINT)) AS z")
      assert(engine.openSessionCount == baseline + 1)
      val del = c.send(HttpRequest.newBuilder(URI.create(s"$root/v1/statement/${extract(lbody, "id")}"))
        .DELETE().build(), HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() == 204)
      awaitSessions(baseline)
    } finally {
      graft.core.Events.unregister(onClose)
      front.stop()
    }
  }

  test("small REST replies are not held for the client's delayed ACK") {
    withServer { (_, base) =>
      // one keep-alive HTTP/1.1 connection
      val c = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val ms = (1 to 21).map { _ =>
        val t0 = System.nanoTime()
        assert(get(c, s"$base/ping")._1 == 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      // Nagle plus a delayed ACK holds each small reply about 40 ms
      assert(ms(10) < 20, s"ping ms, sorted: ${ms.map(_.round)}")
    }
  }

  test("stop() ends the frontend's named REST threads") {
    import scala.jdk.CollectionConverters._
    // a REST statement runs on the engine's operation pool, which
    // Engine.close() stops
    def restThreads: Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && Seq("graft-rest-", "graft-op-").exists(t.getName.startsWith)).toSet
    val before = restThreads
    val engine = new Engine(spark)
    val front = new RestFrontend(engine, port = 0)
    val base = s"http://localhost:${front.start()}/api/v1"
    try {
      val c = HttpClient.newHttpClient()
      val sid = extract(post(c, s"$base/sessions", """{"user": "threads"}""")._2, "sessionId")
      val opId = extract(post(c, s"$base/sessions/$sid/statements",
        """{"sql": "SELECT id FROM range(3)"}""")._2, "operationId")
      var state = ""
      val deadline = System.nanoTime() + 30e9.toLong
      while (state != "FINISHED" && System.nanoTime() < deadline) {
        state = extract(get(c, s"$base/sessions/$sid/statements/$opId")._2, "state")
        if (state != "FINISHED") Thread.sleep(50)
      }
      val (rc, rbody) = get(c, s"$base/sessions/$sid/statements/$opId/result")
      assert(rc == 200 && rbody.contains("""{"id":2}"""), rbody)
      val started = (restThreads -- before).map(_.getName)
      assert(started.exists(_.startsWith("graft-op-")) &&
        started.exists(_.startsWith("graft-rest-http-")), started)
    } finally {
      front.stop()
      engine.close()
    }
    val left = restThreads -- before
    left.foreach(_.join(5000)) // a pool thread may still be unwinding
    assert(left.forall(!_.isAlive), left.filter(_.isAlive).map(_.getName))
  }

  test("errors surface as JSON with useful statuses") {
    withServer { (c, base) =>
      assert(get(c, s"$base/batches/nope")._1 == 404)
      assert(post(c, s"$base/sessions/nope/statements", """{"sql": "SELECT 1"}""")._1 == 404)
      val (_, sbody) = post(c, s"$base/sessions", "{}")
      val sid = extract(sbody, "sessionId")
      val (qc, qbody) = post(c, s"$base/sessions/$sid/statements",
        """{"sql": "SELECT FROM nothing syntax error"}""")
      assert(qc == 200)
      val opId = extract(qbody, "operationId")
      var state = ""
      val deadline = System.nanoTime() + 30e9.toLong
      while (!Set("FINISHED", "ERROR")(state) && System.nanoTime() < deadline) {
        val (_, st) = get(c, s"$base/sessions/$sid/statements/$opId")
        state = extract(st, "state")
        Thread.sleep(100)
      }
      assert(state == "ERROR")
    }
  }

  test("DELETE on a self-owned NON-terminal store record with no live job answers 409, never a 200 'restored'") {
    // the widest cancel race (r16 ADVICE): the submitter worker claimed
    // the pendingBatches entry BEFORE the handler's containsKey check,
    // so the request falls through to the store-record branch while a
    // launch is in flight — replying 200 with the stored state would
    // let the batch run after its client saw the cancel succeed
    val dir = java.nio.file.Files.createTempDirectory("graft-batch-race").toString
    val engine = new Engine(spark)
    val front = new RestFrontend(engine, port = 0, batchStoreDir = Some(dir))
    val port = front.start()
    val c = HttpClient.newHttpClient()
    try {
      // a RUNNING record owned by nobody-else (self-owned shape) with
      // no pending entry and no live job — exactly the race window
      val seed = new BatchMetadataStore(dir)
      seed.insert("batch-inflight-1", "racer", "SELECT 1", "RUNNING")
      seed.close()
      val (dc, dbody) = delete(c, s"http://localhost:$port/api/v1/batches/batch-inflight-1")
      assert(dc == 409 && dbody.contains("being launched"),
        s"non-terminal store fallback must 409, not 200 'restored': $dc $dbody")
      // a TERMINAL record still answers the plain restored reply
      val seed2 = new BatchMetadataStore(dir)
      seed2.insert("batch-done-1", "racer", "SELECT 1", "FINISHED")
      seed2.close()
      val (tc, tbody) = delete(c, s"http://localhost:$port/api/v1/batches/batch-done-1")
      assert(tc == 200 && tbody.contains(""""restored": true"""), s"$tc $tbody")
    } finally front.stop()
  }

  test("batch state survives a frontend restart via the metadata store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-batch-store").toString
    val engine = new Engine(spark)
    val front1 = new RestFrontend(engine, port = 0, batchStoreDir = Some(dir))
    val port1 = front1.start()
    val c = HttpClient.newHttpClient()
    val base1 = s"http://localhost:$port1/api/v1"
    val (bc, bbody) = post(c, s"$base1/batches", """{"sql": "SELECT count(*) AS n FROM range(1000)"}""")
    assert(bc == 200)
    val id = extract(bbody, "id")
    var state = extract(bbody, "state")
    val deadline = System.nanoTime() + 30e9.toLong
    while (state != "FINISHED" && System.nanoTime() < deadline) {
      val (_, st) = get(c, s"$base1/batches/$id")
      state = extract(st, "state")
      assert(state != "ERROR")
      Thread.sleep(100)
    }
    assert(state == "FINISHED")
    front1.stop() // the process's in-memory batch map dies with it

    val front2 = new RestFrontend(engine, port = 0, batchStoreDir = Some(dir))
    val port2 = front2.start()
    try {
      val (gc, gbody) = get(c, s"http://localhost:$port2/api/v1/batches/$id")
      assert(gc == 200, gbody)
      assert(extract(gbody, "state") == "FINISHED", gbody)
      assert(gbody.contains(""""restored": true"""), gbody)
    } finally front2.stop()
  }

  test("unfinished batches are resubmitted under their original id at startup") {
    val dir = java.nio.file.Files.createTempDirectory("graft-batch-recover").toString
    // simulate a server that died mid-batch: a PENDING record in the
    // store with no live operation behind it
    val seed = new BatchMetadataStore(dir)
    seed.insert("batch-orphan-1", "resty", "SELECT 41 + 1 AS answer", "PENDING")
    seed.close()

    val front = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(dir))
    val port = front.start()
    val c = HttpClient.newHttpClient()
    try {
      var state = ""
      val deadline = System.nanoTime() + 30e9.toLong
      while (state != "FINISHED" && System.nanoTime() < deadline) {
        val (gc, gbody) = get(c, s"http://localhost:$port/api/v1/batches/batch-orphan-1")
        assert(gc == 200, gbody)
        state = extract(gbody, "state")
        assert(state != "ERROR", gbody)
        if (state != "FINISHED") Thread.sleep(100)
      }
      assert(state == "FINISHED")
    } finally front.stop()
  }

  private def put(c: HttpClient, url: String, body: String): (Int, String) = {
    val r = c.send(HttpRequest.newBuilder(URI.create(url))
      .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  private def delete(c: HttpClient, url: String): (Int, String) = {
    val r = c.send(HttpRequest.newBuilder(URI.create(url)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("admin: session and operation listings expose the live gateway state") {
    withServer { (c, base) =>
      val sid1 = extract(post(c, s"$base/sessions", """{"user": "alice"}""")._2, "sessionId")
      val sid2 = extract(post(c, s"$base/sessions", """{"user": "bob"}""")._2, "sessionId")
      val opId = extract(post(c, s"$base/sessions/$sid1/statements",
        """{"sql": "SELECT 42 AS x"}""")._2, "operationId")

      val (lc, lbody) = get(c, s"$base/sessions")
      assert(lc == 200)
      assert(lbody.contains("\"user\": \"alice\"") && lbody.contains("\"user\": \"bob\""), lbody)
      assert(lbody.contains(s"\"sessionId\": \"$sid1\"") && lbody.contains(s"\"sessionId\": \"$sid2\""))

      val (dc, dbody) = get(c, s"$base/sessions/$sid1")
      assert(dc == 200 && dbody.contains("\"openOperations\": 1"), dbody)

      val (oc, obody) = get(c, s"$base/sessions/$sid1/operations")
      assert(oc == 200 && obody.contains(s"\"operationId\": \"$opId\""), obody)
      assert(obody.contains("\"statement\": \"SELECT 42 AS x\""), obody)

      // global operation lookup — no session id needed
      val (gc, gbody) = get(c, s"$base/operations/$opId")
      assert(gc == 200 && gbody.contains(s"\"sessionId\": \"$sid1\""), gbody)
      assert(get(c, s"$base/operations/no-such-op")._1 == 404)
    }
  }

  test("admin: PUT /operations/{id} cancels a running statement") {
    withServer { (c, base) =>
      val sid = extract(post(c, s"$base/sessions", """{"user": "admin"}""")._2, "sessionId")
      // count over a non-foldable predicate: long-running but immune to
      // the ANSI overflow that sum(xxhash64(...)) hits when a fast box
      // aggregates enough full-range hashes before the cancel lands
      val slow = "SELECT count(*) FROM range(2000000000) WHERE xxhash64(cast(id AS string)) % 3 >= 0"
      val opId = extract(post(c, s"$base/sessions/$sid/statements",
        s"""{"sql": "$slow"}""")._2, "operationId")
      assert(put(c, s"$base/operations/$opId", """{"action": "resize"}""")._1 == 400)
      val (cc, cbody) = put(c, s"$base/operations/$opId", """{"action": "cancel"}""")
      assert(cc == 200, cbody)
      var state = ""
      val deadline = System.nanoTime() + 30e9.toLong
      while (!Set("CANCELED", "ERROR")(state) && System.nanoTime() < deadline) {
        state = extract(get(c, s"$base/operations/$opId")._2, "state")
        if (!Set("CANCELED", "ERROR")(state)) Thread.sleep(100)
      }
      assert(state == "CANCELED", state)
    }
  }

  test("admin: batch listing and DELETE-cancel") {
    withServer { (c, base) =>
      // count over a non-foldable predicate: long-running but immune to
      // the ANSI overflow that sum(xxhash64(...)) hits when a fast box
      // aggregates enough full-range hashes before the cancel lands
      val slow = "SELECT count(*) FROM range(2000000000) WHERE xxhash64(cast(id AS string)) % 3 >= 0"
      val (bc, bbody) = post(c, s"$base/batches", s"""{"sql": "$slow", "user": "batcher"}""")
      assert(bc == 200)
      val id = extract(bbody, "id")
      val (lc, lbody) = get(c, s"$base/batches")
      assert(lc == 200 && lbody.contains(s"\"id\": \"$id\""), lbody)
      assert(lbody.contains("\"user\": \"batcher\""), lbody)
      val (dc, dbody) = delete(c, s"$base/batches/$id")
      assert(dc == 200, dbody)
      var state = ""
      val deadline = System.nanoTime() + 30e9.toLong
      while (!Set("CANCELED", "ERROR")(state) && System.nanoTime() < deadline) {
        state = extract(get(c, s"$base/batches/$id")._2, "state")
        if (!Set("CANCELED", "ERROR")(state)) Thread.sleep(100)
      }
      assert(state == "CANCELED", state)
      assert(delete(c, s"$base/batches/no-such")._1 == 404)
    }
  }

  test("admin: engine discovery listing and eviction") {
    withServer { (c, base) =>
      val eng = new Engine(spark)
      eng.discovery.register("graft_USER/alice", "host1:1000")
      val front2 = new RestFrontend(eng, port = 0)
      val port2 = front2.start()
      try {
        val b2 = s"http://localhost:$port2/api/v1"
        val (gc, gbody) = get(c, s"$b2/admin/engine?space=graft_USER/alice")
        assert(gc == 200 && gbody.contains("host1:1000"), gbody)
        assert(get(c, s"$b2/admin/engine")._1 == 400)
        val (dc, _) = delete(c, s"$b2/admin/engine?space=graft_USER/alice")
        assert(dc == 200)
        val (_, after) = get(c, s"$b2/admin/engine?space=graft_USER/alice")
        assert(!after.contains("host1:1000"), after)
      } finally front2.stop()
    }
  }

  test("prometheus metrics endpoint serves text exposition format") {
    withServer { (c, base) =>
      post(c, s"$base/sessions", """{"user": "prom"}""")
      val (code, body) = get(c, s"$base/metrics/prometheus")
      assert(code == 200, body)
      assert(body.contains("# TYPE graft_sessions_opened counter"), body)
      assert(body.contains("# TYPE graft_uptime_ms gauge"), body)
      assert(body.linesIterator.exists(_.matches("graft_sessions_opened \\d+")), body)
    }
  }

  test("the embedded admin UI page serves and points at the admin endpoints") {
    withServer { (c, base) =>
      val uiUrl = base.stripSuffix("/api/v1") + "/ui"
      val (code, html) = get(c, uiUrl)
      assert(code == 200, html)
      assert(html.contains("<!DOCTYPE html>"))
      // the page is driven by the admin API — each section fetches it
      Seq("/api/v1/sessions", "/api/v1/batches", "/api/v1/metrics").foreach { ep =>
        assert(html.contains(ep), s"UI page must fetch $ep")
      }
      // the overview links into the server-rendered drill-down pages
      Seq("/ui/session/", "/ui/operation/", "/ui/batch/").foreach { p =>
        assert(html.contains(p), s"UI page must link into $p")
      }
    }
  }

  test("UI drill-down pages resolve: session detail links to operation detail; batch log renders") {
    withServer { (c, base) =>
      val root = base.stripSuffix("/api/v1")
      val sid = extract(post(c, s"$base/sessions", """{"user": "ui-user"}""")._2, "sessionId")
      val opId = extract(post(c, s"$base/sessions/$sid/statements",
        """{"sql": "SELECT 1 AS one"}""")._2, "operationId")
      // 120 s for the batch to finish: the full parallel test run shares
      // one box across every suite's Spark jobs, and this batch's collect
      // has been observed starved past 30 s there (it finishes in <1 s in
      // isolation). Once it has, each surface gets 30 s.
      val bid = onEvents { events =>
        val bid = extract(post(c, s"$base/batches",
          """{"sql": "SELECT count(*) FROM range(1000)"}""")._2, "id")
        events.awaitFinished(Seq(bid), seconds = 120)
        bid
      }
      val deadline = System.nanoTime() + 30e9.toLong
      var bstate = extract(get(c, s"$base/batches/$bid")._2, "state")
      while (bstate != "FINISHED" && System.nanoTime() < deadline) {
        Thread.sleep(100); bstate = extract(get(c, s"$base/batches/$bid")._2, "state")
      }
      assert(bstate == "FINISHED")

      val (sc, sessHtml) = get(c, s"$root/ui/session/$sid")
      assert(sc == 200 && sessHtml.contains("ui-user"), sessHtml)
      // the session page links each operation's detail page — follow it
      assert(sessHtml.contains(s"/ui/operation/$opId"), sessHtml)
      val (oc, opHtml) = get(c, s"$root/ui/operation/$opId")
      assert(oc == 200 && opHtml.contains("SELECT 1 AS one"), opHtml)

      // poll the PAGE itself: the assertion must poll the surface it
      // checks, with a deadline of its own
      val pageDeadline = System.nanoTime() + 30e9.toLong
      var (bc, batchHtml) = get(c, s"$root/ui/batch/$bid")
      while (!batchHtml.contains("FINISHED") && System.nanoTime() < pageDeadline) {
        Thread.sleep(100)
        val r = get(c, s"$root/ui/batch/$bid"); bc = r._1; batchHtml = r._2
      }
      assert(bc == 200, batchHtml)
      assert(batchHtml.contains("FINISHED") && batchHtml.contains("appState"), batchHtml)
      // the batch page renders the pending operation log
      assert(batchHtml.contains("pending log"), batchHtml)

      // unknowns 404 as pages, not stack traces
      assert(get(c, s"$root/ui/session/nope")._1 == 404)
      assert(get(c, s"$root/ui/batch/nope")._1 == 404)
    }
  }

  test("SQL batches close their engine sessions once they end and still read FINISHED") {
    val storeDir = java.nio.file.Files.createTempDirectory("graft-batch-close").toString
    Seq(None, Some(storeDir)).foreach { dir =>
      val engine = new Engine(spark)
      val front = new RestFrontend(engine, port = 0, batchStoreDir = dir)
      val root = s"http://localhost:${front.start()}"
      val base = s"$root/api/v1"
      try {
        val c = HttpClient.newHttpClient()
        val baseline = engine.openSessionCount
        val ids = onEvents { events =>
          val ids = (1 to 5).map(i => extract(post(c, s"$base/batches",
            s"""{"sql": "SELECT count(*) FROM range(${i * 1000})"}""")._2, "id"))
          // 120 s: starved like the UI drill-down test's batch
          events.awaitFinished(ids, seconds = 120)
          events.awaitSessions(engine, baseline, seconds = 30)
          ids
        }
        assert(engine.openSessionCount == baseline)
        val listing = get(c, s"$base/batches")._2
        ids.foreach { id =>
          assert(extract(get(c, s"$base/batches/$id")._2, "state") == "FINISHED", s"store $dir")
          val (lc, log) = get(c, s"$base/batches/$id/localLog")
          assert(lc == 200 && log.contains("FINISHED"), log)
          assert(listing.contains(s""""id": "$id", "user": "batch", "state": "FINISHED""""), listing)
          val (pc, page) = get(c, s"$root/ui/batch/$id")
          assert(pc == 200 && page.contains("state: FINISHED"), page)
        }
      } finally front.stop()
    }
  }

  // ---- request bodies and stored descriptors are read as JSON ----

  /** A tab, a non-ASCII letter, and a backslash followed by `n`. */
  private val oddText = "tab\there \u00e9 back\\nslash"
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("REST request bodies decode every JSON escape") {
    withServer { (c, base) =>
      val user = mapper.createObjectNode().put("user", oddText).toString
      val sid = extract(post(c, s"$base/sessions", user)._2, "sessionId")
      assert(mapper.readTree(get(c, s"$base/sessions/$sid")._2).get("user").asText == oddText)
      // the SQL literal doubles the backslash, so the value is oddText
      val sql = s"SELECT '${oddText.replace("\\", "\\\\")}' AS v"
      val body = mapper.createObjectNode().put("sql", sql).toString
      val opId = extract(post(c, s"$base/sessions/$sid/statements", body)._2, "operationId")
      var state = ""
      val deadline = System.nanoTime() + 30e9.toLong
      while (state != "FINISHED" && System.nanoTime() < deadline) {
        state = extract(get(c, s"$base/sessions/$sid/statements/$opId")._2, "state")
        assert(state != "ERROR")
        if (state != "FINISHED") Thread.sleep(50)
      }
      val (rc, rbody) = get(c, s"$base/sessions/$sid/statements/$opId/result")
      assert(rc == 200, rbody)
      assert(mapper.readTree(rbody).get("rows").get(0).get("v").asText == oddText, rbody)
      // a long statement is read like a short one
      val long = mapper.createObjectNode().put("sql", s"SELECT '${"x" * 20000}' AS v").toString
      val (lc, lbody) = post(c, s"$base/sessions/$sid/statements", long)
      assert(lc == 200, lbody)
    }
  }

  test("a stored batch's args and conf keep every JSON escape through recovery") {
    import graft.core.Json.{quote => q}
    val storeDir = java.nio.file.Files.createTempDirectory("graft-batch-escapes").toString
    val id = java.util.UUID.randomUUID().toString
    val key = "spark.graft.test.odd"
    // an unfinished uploaded batch as a gateway stores it
    val descriptor = s"""{"resourceBatch": true, "batchType": "SPARK", """ +
      s""""resource": ${q(uploadableJar.toString)}, "mainClass": "GraftBatchApp", """ +
      s""""args": [${Seq("echo", key, oddText).map(q).mkString(",")}], """ +
      s""""conf": {${q(key)}: ${q(oddText)}}}"""
    val store = new BatchMetadataStore(storeDir)
    try store.insert(id, "escaper", descriptor, "RUNNING") finally store.close()
    // a gateway over the store relaunches it from the descriptor
    val front = new RestFrontend(new Engine(spark), port = 0, batchStoreDir = Some(storeDir))
    val port = front.start()
    try {
      val c = HttpClient.newHttpClient()
      val base = s"http://localhost:$port/api/v1"
      assert(pollBatch(c, base, id, Set("FINISHED", "ERROR")) == "FINISHED")
      val lines = mapper.readTree(get(c, s"$base/batches/$id/localLog")._2)
        .get("logRowSet").elements()
      import scala.jdk.CollectionConverters._
      val echo = lines.asScala.map(_.asText).find(_.startsWith("echo "))
      // argv reaches the child in the platform charset, which may not
      // hold every character: compare with what it carries for oddText
      val jnu = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
      val enc = java.net.URLEncoder.encode(new String(oddText.getBytes(jnu), jnu), "UTF-8")
      assert(echo.contains(s"echo prop=$enc arg=$enc"), echo)
    } finally front.stop()
  }

  test("a closed operation is unknown: PUT close, then GET answers 404") {
    withServer { (c, base) =>
      val sid = extract(post(c, s"$base/sessions", """{"user": "closer"}""")._2, "sessionId")
      val opId = extract(post(c, s"$base/sessions/$sid/statements",
        """{"sql": "SELECT 1 AS one"}""")._2, "operationId")
      assert(get(c, s"$base/operations/$opId")._1 == 200)
      val (cc, cbody) = put(c, s"$base/operations/$opId", """{"action": "close"}""")
      assert(cc == 200 && extract(cbody, "state") == "CLOSED", cbody)
      assert(get(c, s"$base/operations/$opId")._1 == 404)
      assert(get(c, s"$base/sessions/$sid/statements/$opId")._1 == 404)
      assert(put(c, s"$base/operations/$opId", """{"action": "close"}""")._1 == 404)
      assert(get(c, s"$base/sessions/$sid")._2.contains("\"openOperations\": 0"))
    }
  }
}
