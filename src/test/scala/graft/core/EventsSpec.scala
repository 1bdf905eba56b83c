package graft.core

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

class EventsSpec extends AnyFunSuite {
  private lazy val engine = new Engine(SparkFixture.spark)

  test("session and operation lifecycle events land in the JSONL log") {
    val path = Files.createTempDirectory("graft_events").resolve("events.jsonl")
    val logger = new Events.JsonlLogger(path)
    Events.register(logger)
    try {
      val sess = engine.openSession("evt_user")
      val op = sess.executeStatement("SELECT 1")
      op.awaitTermination()
      engine.closeSession(sess.id)
      val lines = Files.readAllLines(path).asScala
      assert(lines.exists(l => l.contains(""""event":"session"""") &&
        l.contains(""""action":"OPENED"""") && l.contains(sess.id)))
      assert(lines.exists(l => l.contains(""""event":"session"""") &&
        l.contains(""""action":"CLOSED"""")))
      assert(lines.exists(l => l.contains(""""event":"operation"""") &&
        l.contains(""""state":"RUNNING"""") && l.contains(op.handle)))
      assert(lines.exists(l => l.contains(""""state":"FINISHED"""")))
    } finally Events.unregister(logger)
  }

  test("idle reaper closes only idle, operation-free sessions") {
    val idle = engine.openSession("idle_user")
    val fresh = engine.openSession("fresh_user")
    idle.lastAccessedMs = System.currentTimeMillis() - 3600 * 1000
    val reaped = engine.reapIdleSessions(idleTimeoutMs = 60 * 1000)
    assert(reaped == Seq(idle.id), s"reaped $reaped")
    assert(engine.session(idle.id).isEmpty)
    assert(engine.session(fresh.id).isDefined)
    engine.closeSession(fresh.id)
  }

  test("a failing operation posts its error; a throwing handler never breaks the path") {
    val seen = new java.util.concurrent.CopyOnWriteArrayList[Events.Event]()
    val bad = new Events.Handler {
      override def onEvent(e: Events.Event): Unit = throw new RuntimeException("boom")
    }
    val good = new Events.Handler {
      override def onEvent(e: Events.Event): Unit = seen.add(e)
    }
    Events.register(bad)
    Events.register(good)
    try {
      val sess = engine.openSession("evt_user2")
      val op = sess.executeStatement("SELECT * FROM graft_no_such_table_events")
      op.awaitTermination()
      engine.closeSession(sess.id)
      val errEvent = seen.asScala.collectFirst {
        case e: Events.OperationEvent if e.state == "ERROR" => e
      }
      assert(errEvent.isDefined, s"no ERROR event in ${seen.asScala.mkString(",")}")
      assert(errEvent.get.error.nonEmpty)
      assert(errEvent.get.asJson.contains(""""error":""""))
    } finally {
      Events.unregister(bad)
      Events.unregister(good)
    }
  }

  test("a completed statement posts a lineage event with column mappings") {
    val seen = new java.util.concurrent.CopyOnWriteArrayList[Events.LineageEvent]()
    val collector = new Events.Handler {
      override def onEvent(e: Events.Event): Unit = e match {
        case le: Events.LineageEvent => seen.add(le)
        case _ => ()
      }
    }
    val spark = SparkFixture.spark
    spark.sql("DROP TABLE IF EXISTS graft_lineage_t")
    spark.sql("CREATE TABLE graft_lineage_t (a INT, b INT) USING parquet")
    Events.register(collector)
    try {
      val sess = engine.openSession("lin_user")
      val op = sess.executeStatement(
        "SELECT a AS x, a + b AS y FROM graft_lineage_t")
      op.awaitTermination()
      // QueryExecutionListener callbacks ride the async listener bus;
      // other suites' queries post lineage too — match OUR statement's
      // shape (an "x" column sourced from graft_lineage_t), not just
      // any event with an "x"
      val deadline = System.currentTimeMillis() + 10000
      def found: Option[Events.LineageEvent] =
        seen.asScala.find(le => le.columns.get("x")
          .exists(_.exists(_.contains("graft_lineage_t"))))
      while (found.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val le = found.getOrElse(fail(s"no lineage event; got ${seen.asScala.toList}"))
      // table names carry the catalog/database qualifier — match suffix
      assert(le.columns("x").size == 1 &&
        le.columns("x").forall(_.endsWith("graft_lineage_t.a")), le.columns)
      assert(le.columns("y").size == 2 &&
        le.columns("y").exists(_.endsWith("graft_lineage_t.a")) &&
        le.columns("y").exists(_.endsWith("graft_lineage_t.b")), le.columns)
      // JSON rendering carries the mapping
      assert(le.asJson.contains(""""event":"lineage""""))
      assert(le.asJson.contains("graft_lineage_t.b"), le.asJson)
      engine.closeSession(sess.id)
    } finally {
      Events.unregister(collector)
      spark.sql("DROP TABLE IF EXISTS graft_lineage_t")
    }
  }

  test("write commands post target-column lineage: INSERT INTO and CTAS name the target's columns") {
    val seen = new java.util.concurrent.CopyOnWriteArrayList[Events.LineageEvent]()
    val collector = new Events.Handler {
      override def onEvent(e: Events.Event): Unit = e match {
        case le: Events.LineageEvent => seen.add(le)
        case _ => ()
      }
    }
    val spark = SparkFixture.spark
    Seq("graft_lin_src", "graft_lin_dst", "graft_lin_ctas")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("CREATE TABLE graft_lin_src (a INT, b INT) USING parquet")
    spark.sql("CREATE TABLE graft_lin_dst (x INT, y INT) USING parquet")
    Events.register(collector)
    try {
      val sess = engine.openSession("wlin_user")
      sess.executeStatement(
        "INSERT INTO graft_lin_dst SELECT a, a + b FROM graft_lin_src")
        .awaitTermination()
      val deadline = System.currentTimeMillis() + 10000
      def insertHit: Option[Events.LineageEvent] = seen.asScala.find(
        _.columns.keys.exists(_.endsWith("graft_lin_dst.x")))
      while (insertHit.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val ins = insertHit.getOrElse(fail(
        s"no INSERT lineage event; got ${seen.asScala.map(_.columns.keys).toList}"))
      val x = ins.columns.collectFirst {
        case (k, v) if k.endsWith("graft_lin_dst.x") => v }.get
      val y = ins.columns.collectFirst {
        case (k, v) if k.endsWith("graft_lin_dst.y") => v }.get
      assert(x.size == 1 && x.forall(_.endsWith("graft_lin_src.a")), ins.columns)
      assert(y.size == 2 && y.exists(_.endsWith("graft_lin_src.a")) &&
        y.exists(_.endsWith("graft_lin_src.b")), ins.columns)

      // CTAS: the created table's columns are the outputs
      sess.executeStatement(
        "CREATE TABLE graft_lin_ctas USING parquet AS " +
          "SELECT b AS only_col FROM graft_lin_src").awaitTermination()
      def ctasHit: Option[Events.LineageEvent] = seen.asScala.find(
        _.columns.keys.exists(_.endsWith("graft_lin_ctas.only_col")))
      val deadline2 = System.currentTimeMillis() + 10000
      while (ctasHit.isEmpty && System.currentTimeMillis() < deadline2)
        Thread.sleep(50)
      val ctas = ctasHit.getOrElse(fail(
        s"no CTAS lineage event; got ${seen.asScala.map(_.columns.keys).toList}"))
      val oc = ctas.columns.collectFirst {
        case (k, v) if k.endsWith("graft_lin_ctas.only_col") => v }.get
      assert(oc.size == 1 && oc.forall(_.endsWith("graft_lin_src.b")), ctas.columns)
      engine.closeSession(sess.id)
    } finally {
      Events.unregister(collector)
      Seq("graft_lin_src", "graft_lin_dst", "graft_lin_ctas")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("view lineage: CREATE VIEW names view.column targets; MERGE maps both branches") {
    val seen = new java.util.concurrent.CopyOnWriteArrayList[Events.LineageEvent]()
    val collector = new Events.Handler {
      override def onEvent(e: Events.Event): Unit = e match {
        case le: Events.LineageEvent => seen.add(le)
        case _ => ()
      }
    }
    val spark = SparkFixture.spark
    Seq("graft_lin_vsrc", "graft_lin_mtgt", "graft_lin_msrc")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("DROP VIEW IF EXISTS graft_lin_v")
    spark.sql("CREATE TABLE graft_lin_vsrc (a INT, b INT) USING parquet")
    Events.register(collector)
    try {
      val sess = engine.openSession("vlin_user")
      sess.executeStatement(
        "CREATE VIEW graft_lin_v AS SELECT a AS va, a + b AS vb FROM graft_lin_vsrc")
        .awaitTermination()
      val deadline = System.currentTimeMillis() + 10000
      def viewHit: Option[Events.LineageEvent] = seen.asScala.find(
        _.columns.keys.exists(_.endsWith("graft_lin_v.va")))
      while (viewHit.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val ve = viewHit.getOrElse(fail(
        s"no CREATE VIEW lineage event; got ${seen.asScala.map(_.columns.keys).toList}"))
      val va = ve.columns.collectFirst {
        case (k, v) if k.endsWith("graft_lin_v.va") => v }.get
      val vb = ve.columns.collectFirst {
        case (k, v) if k.endsWith("graft_lin_v.vb") => v }.get
      assert(va.size == 1 && va.forall(_.endsWith("graft_lin_vsrc.a")), ve.columns)
      assert(vb.exists(_.endsWith("graft_lin_vsrc.a")) &&
        vb.exists(_.endsWith("graft_lin_vsrc.b")), ve.columns)
      engine.closeSession(sess.id)

      // MERGE INTO: built programmatically over analyzed relations (no
      // row-level-ops v2 catalog ships with stock Spark) — the walk maps
      // the MATCHED update (sources from BOTH sides) and the NOT MATCHED
      // insert, unioned per target column
      import org.apache.spark.sql.catalyst.expressions.{Add, EqualTo}
      import org.apache.spark.sql.catalyst.plans.logical._
      spark.sql("CREATE TABLE graft_lin_mtgt (x INT, y INT) USING parquet")
      spark.sql("CREATE TABLE graft_lin_msrc (a INT, b INT) USING parquet")
      val tgtPlan = spark.table("graft_lin_mtgt").queryExecution.analyzed
      val srcPlan = spark.table("graft_lin_msrc").queryExecution.analyzed
      val Seq(tx, ty) = tgtPlan.output
      val Seq(sa, sb) = srcPlan.output
      val merge = MergeIntoTable(tgtPlan, srcPlan, EqualTo(tx, sa),
        matchedActions = Seq(UpdateAction(None, Seq(Assignment(ty, Add(sb, ty))), false)),
        notMatchedActions = Seq(InsertAction(None, Seq(Assignment(tx, sa), Assignment(ty, sb)))),
        notMatchedBySourceActions = Nil, withSchemaEvolution = false)
      val cols = graft.plans.ColumnLineage.of(merge)
      val mx = cols.collectFirst { case (k, v) if k.endsWith("graft_lin_mtgt.x") => v }
        .getOrElse(fail(s"MERGE must name target x: $cols"))
      val my = cols.collectFirst { case (k, v) if k.endsWith("graft_lin_mtgt.y") => v }
        .getOrElse(fail(s"MERGE must name target y: $cols"))
      assert(mx.size == 1 && mx.forall(_.endsWith("graft_lin_msrc.a")), cols)
      assert(my.exists(_.endsWith("graft_lin_msrc.b")) &&
        my.exists(_.endsWith("graft_lin_mtgt.y")),
        s"matched branch (b + target y) and not-matched branch (b) must union: $cols")
    } finally {
      Events.unregister(collector)
      spark.sql("DROP VIEW IF EXISTS graft_lin_v")
      Seq("graft_lin_vsrc", "graft_lin_mtgt", "graft_lin_msrc")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("lineage dispatcher seam: conf-selected custom class and SPARK_EVENT bus receive lineage") {
    val spark = SparkFixture.spark
    spark.sql("DROP TABLE IF EXISTS graft_lineage_d")
    spark.sql("CREATE TABLE graft_lineage_d (a INT, b INT) USING parquet")
    RecordingLineageDispatcher.seen.clear()
    val sparkSeen = new java.util.concurrent.CopyOnWriteArrayList[
      org.apache.spark.sql.graft.GraftLineageSparkEvent]()
    val sl = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case e: org.apache.spark.sql.graft.GraftLineageSparkEvent => sparkSeen.add(e)
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(sl)
    val sess = engine.openSession("disp_user")
    try {
      // the dispatcher list is a SESSION conf: this session fans out to
      // a reflectively-loaded custom class AND the Spark listener bus
      sess.spark.conf.set(graft.plans.LineageDispatcher.ConfKey,
        "graft.core.RecordingLineageDispatcher,SPARK_EVENT")
      val op = sess.executeStatement("SELECT a AS out_c FROM graft_lineage_d")
      op.awaitTermination()
      val deadline = System.currentTimeMillis() + 10000
      def customHit = RecordingLineageDispatcher.seen.asScala.find(
        _._2.get("out_c").exists(_.exists(_.contains("graft_lineage_d"))))
      def sparkHit = sparkSeen.asScala.find(
        _.columns.get("out_c").exists(_.exists(_.contains("graft_lineage_d"))))
      while ((customHit.isEmpty || sparkHit.isEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val c = customHit.getOrElse(fail(
        s"custom dispatcher saw nothing: ${RecordingLineageDispatcher.seen.asScala.toList}"))
      assert(c._2("out_c").forall(_.endsWith("graft_lineage_d.a")), c._2)
      val se = sparkHit.getOrElse(fail(s"no Spark-bus lineage event: ${sparkSeen.asScala.toList}"))
      assert(se.columns("out_c") == Seq(se.columns("out_c").head) &&
        se.columns("out_c").head.endsWith("graft_lineage_d.a"), se.columns)
    } finally {
      sess.spark.conf.unset(graft.plans.LineageDispatcher.ConfKey)
      engine.closeSession(sess.id)
      spark.sparkContext.removeSparkListener(sl)
      spark.sql("DROP TABLE IF EXISTS graft_lineage_d")
    }
  }

  test("JSON file reporter dumps atomic counter snapshots") {
    val collector = new Metrics.Collector
    collector.onEvent(Events.SessionEvent("s1", "alice", "OPENED", 0L))
    collector.onEvent(Events.OperationEvent("o1", "s1", "RUNNING", None, 0L))
    collector.onEvent(Events.OperationEvent("o1", "s1", "FINISHED", None, 0L))
    val path = java.nio.file.Files.createTempDirectory("graft-metrics")
      .resolve("metrics.json")
    val reporter = new Metrics.JsonFileReporter(collector, path, intervalMs = 60000L)
    try {
      reporter.reportNow()
      val json = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      assert(json.contains("\"sessions_opened\": 1"), json)
      assert(json.contains("\"operations_finished\": 1"), json)
      // a later snapshot REPLACES the file (move, not append)
      collector.onEvent(Events.SessionEvent("s2", "bob", "OPENED", 0L))
      reporter.reportNow()
      val json2 = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      assert(json2.contains("\"sessions_opened\": 2"), json2)
      assert(json2.trim.startsWith("{") && json2.trim.endsWith("}"), "one JSON object per file")
    } finally reporter.close()
  }
}

/** Reflectively-loaded test dispatcher — exercises the zero-arg-ctor
  * contract of the `graft.lineage.dispatchers` class-name route.
  */
class RecordingLineageDispatcher extends graft.plans.LineageDispatcher {
  override def send(qe: org.apache.spark.sql.execution.QueryExecution,
      columns: Map[String, Set[String]]): Unit =
    RecordingLineageDispatcher.seen.add((qe.id, columns))
}

object RecordingLineageDispatcher {
  val seen = new java.util.concurrent.CopyOnWriteArrayList[(Long, Map[String, Set[String]])]()
}
