package graft.core

import scala.concurrent.ExecutionContext.Implicits.global

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

class EngineSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  lazy val engine = new Engine(spark)

  test("execute statement: full collect") {
    val sess = engine.openSession("alice")
    val op = sess.executeStatement("SELECT id, id * 2 AS dbl FROM range(10)")
    assert(op.awaitTermination() == OperationState.Finished)
    val it = op.fetchIterator
    val rows = it.toList
    assert(rows.size == 10)
    assert(rows.head.getLong(1) == 0L)
    engine.closeSession(sess.id)
  }

  test("bounded collect respects max rows") {
    val sess = engine.openSession("alice")
    val op = sess.executeStatement("SELECT id FROM range(1000)", ResultMode.Bounded(7))
    assert(op.awaitTermination() == OperationState.Finished)
    assert(op.fetchIterator.size == 7)
    engine.closeSession(sess.id)
  }

  test("incremental collect streams all partitions") {
    val sess = engine.openSession("alice")
    val op = sess.executeStatement(
      "SELECT id FROM range(0, 100, 1, 8)", ResultMode.Incremental)
    assert(op.awaitTermination() == OperationState.Finished)
    assert(op.fetchIterator.map(_.getLong(0)).sum == (0 until 100).sum)
    engine.closeSession(sess.id)
  }

  test("save-to-file spills to ORC and pages back") {
    val sess = engine.openSession("alice")
    val tmp = java.nio.file.Files.createTempDirectory("graft-spill").toString
    val op = sess.executeStatement(
      "SELECT id, concat('v', id) AS v FROM range(50)",
      ResultMode.SaveToFile(tmp, minRows = 1))
    assert(op.awaitTermination() == OperationState.Finished)
    val rows = op.fetchIterator.toList
    assert(rows.size == 50)
    op.close() // cleans the spill dir
    engine.closeSession(sess.id)
  }

  test("error statements land in ERROR state with the cause") {
    val sess = engine.openSession("alice")
    val op = sess.executeStatement("SELECT * FROM missing_table_xyz")
    assert(op.awaitTermination() == OperationState.Error)
    assert(op.exception.isDefined)
    engine.closeSession(sess.id)
  }

  test("session isolation: temp views do not leak between sessions") {
    val s1 = engine.openSession("alice")
    val s2 = engine.openSession("bob")
    val op = s1.executeStatement("CREATE TEMP VIEW iso_check AS SELECT 1 AS x")
    op.awaitTermination()
    val ok = s1.executeStatement("SELECT * FROM iso_check")
    assert(ok.awaitTermination() == OperationState.Finished)
    val bad = s2.executeStatement("SELECT * FROM iso_check")
    assert(bad.awaitTermination() == OperationState.Error)
    engine.closeSession(s1.id)
    engine.closeSession(s2.id)
  }

  test("KDF engine-info UDFs are registered") {
    val sess = engine.openSession("alice")
    val op = sess.executeStatement(
      "SELECT graft_version() AS v, engine_name() AS n, engine_id() AS i")
    assert(op.awaitTermination() == OperationState.Finished)
    val r = op.fetchIterator.next()
    assert(r.getString(0) == Kdf.version)
    assert(r.getString(1) == "graft-spark-engine")
    assert(r.getString(2).startsWith("graft-"))
    engine.closeSession(sess.id)
  }

  test("timeout cancels a long statement") {
    val sess = engine.openSession("alice")
    spark.udf.register("graft_test_sleep", (ms: Int) => { Thread.sleep(ms); ms })
    val op = sess.executeStatement(
      "SELECT graft_test_sleep(20000) FROM range(100)", timeoutMs = 1500)
    val st = op.awaitTermination(60000)
    assert(st == OperationState.Timeout || st == OperationState.Error)
    engine.closeSession(sess.id)
  }

  test("plan-only modes return plan strings without executing") {
    val s = spark
    val stmt = "SELECT id FROM range(10) WHERE id > 5"
    assert(PlanOnly.run(s, stmt, PlanOnly.Parse).contains("Filter"))
    assert(PlanOnly.run(s, stmt, PlanOnly.Optimize).contains("Range"))
    assert(PlanOnly.run(s, stmt, PlanOnly.Execution).contains("Range"))
  }

  test("metadata ops return JDBC-shaped results") {
    val mt = MetadataOps.getTableTypes(spark)
    assert(mt.columns.toSeq == Seq("TABLE_TYPE"))
    assert(mt.count() == 2)
    val ti = MetadataOps.getTypeInfo(spark)
    assert(ti.columns.contains("TYPE_NAME"))
    assert(ti.count() >= 10)
    spark.sql("CREATE TABLE IF NOT EXISTS graft_meta_check (a INT, b STRING) USING parquet")
    try {
      val cols = MetadataOps.getColumns(spark, "graft_meta_check").collect()
      assert(cols.length == 2)
      assert(cols.map(_.getString(2)).toSet == Set("INT", "STRING"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_meta_check")
  }

  test("share-level keying: USER share maps sessions of one user together") {
    assert(engine.openSessionCount >= 0)
    val a1 = engine.openSession("carol")
    val a2 = engine.openSession("carol")
    // same underlying SparkContext, distinct session state
    assert(a1.spark.sparkContext eq a2.spark.sparkContext)
    assert(a1.spark ne a2.spark)
    engine.closeSession(a1.id)
    engine.closeSession(a2.id)
  }

  test("engine sessions share generated code: a new session recompiles nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val stmt = "SELECT count(*) AS n FROM range(0, 20000, 1, 4) WHERE id % 97 = 13"
    def run(sess: EngineSession): Unit = {
      val op = sess.executeStatement(stmt)
      assert(op.awaitTermination() == OperationState.Finished)
      assert(op.fetchIterator.next().getLong(0) == 207L)
    }
    // compile the statement's code once
    val first = engine.openSession("codegen")
    try run(first) finally engine.closeSession(first.id)
    // The Janino compile count of the statement in a session opened for
    // it. The counter is process-wide, so a stray compile from other
    // work can land in one window: each check takes up to three fresh
    // sessions and stops at the first with 0 compiles. With a class
    // loader per session, every fresh session recompiles.
    def compilesBeforeAZero(e: Engine, user: => String): Seq[Long] =
      Iterator.fill(3) {
        val sess = e.openSession(user)
        try {
          val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          run(sess)
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        } finally e.closeSession(sess.id)
      }.takeWhile(_ > 0).toSeq
    def fresh = s"codegen-${java.util.UUID.randomUUID()}"
    // a connection under a new share key: a new share-scope base
    // session and its per-connection clone
    val second = compilesBeforeAZero(engine, fresh)
    assert(second.size < 3, s"compiles per new session: $second")
    // Trino-style sessions, opened and closed per query
    val perQuery = compilesBeforeAZero(engine, "trino")
    assert(perQuery.size < 3, s"compiles per new session: $perQuery")
    // statements in the share-scope base session itself
    val single = compilesBeforeAZero(new Engine(spark, singleSession = true), fresh)
    assert(single.size < 3, s"compiles per new share-scope session: $single")
  }

  test("engine sessions run their tasks under one class loader unless a session opts out") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.internal.SQLConf
    def taskLoader(sess: EngineSession): String =
      try sess.spark.range(1).map(_ => String.valueOf(Thread.currentThread.getContextClassLoader))(
        Encoders.STRING).collect().head
      finally engine.closeSession(sess.id)
    val a = taskLoader(engine.openSession("loader-a"))
    assert(taskLoader(engine.openSession("loader-b")) == a)
    assert(taskLoader(engine.openSession("loader-a")) == a)
    // a client's spark.* session conf is applied before its first
    // statement (ThriftFrontend OpenSession), so it can turn isolation on
    val isolated = engine.openSession("loader-a")
    isolated.spark.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, true)
    assert(taskLoader(isolated) != a)
  }
}
