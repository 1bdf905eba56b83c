package graft.core

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Round-2 gateway fixes: decimal COLUMN_SIZE, close() unblocking
  * waiters, share-level semantics, per-session session_user, metadata
  * layouts, spill gating, plan-only modes, column lineage.
  */
class GatewayFixSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("getColumnSize returns precision for decimals (case ordering)") {
    assert(SchemaMapper.getColumnSize(DecimalType(22, 2)).contains(22))
    assert(SchemaMapper.getColumnSize(DecimalType(38, 18)).contains(38))
    assert(SchemaMapper.getColumnSize(IntegerType).contains(4))
  }

  test("close() before completion unblocks awaitTermination immediately") {
    val engine = new Engine(spark)
    val sess = engine.openSession("alice")
    val op = new ExecuteStatement(sess, "SELECT 1") // never run()
    val t0 = System.nanoTime()
    op.close()
    val state = op.awaitTermination(timeoutMs = 30000)
    assert((System.nanoTime() - t0) / 1e9 < 5, "awaitTermination blocked after close()")
    assert(state == OperationState.Closed)
  }

  test("share levels: singleSession shares temp views per key, default isolates") {
    val shared = new Engine(spark, ShareLevel.User, singleSession = true)
    val a = shared.openSession("bob")
    val b = shared.openSession("bob")
    a.spark.sql("CREATE OR REPLACE TEMP VIEW graft_share_probe AS SELECT 42 AS v")
    assert(b.spark.sql("SELECT v FROM graft_share_probe").head().getInt(0) == 42,
      "singleSession USER share must expose temp views across sessions")

    val isolated = new Engine(spark, ShareLevel.User)
    val c = isolated.openSession("bob")
    val d = isolated.openSession("bob")
    c.spark.sql("CREATE OR REPLACE TEMP VIEW graft_iso_probe AS SELECT 1 AS v")
    intercept[Exception] { d.spark.sql("SELECT v FROM graft_iso_probe").collect() }
  }

  test("session_user reflects the session's user, system_user the process owner") {
    val engine = new Engine(spark)
    val sess = engine.openSession("alice")
    assert(sess.spark.sql("SELECT session_user()").head().getString(0) == "alice")
    assert(sess.spark.sql("SELECT system_user()").head().getString(0) ==
      sys.props.getOrElse("user.name", "unknown"))
  }

  test("getTables honors dbPattern; getColumns uses the JDBC nullability layout") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_meta_db")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_meta_db.t1 (id INT, name STRING) USING parquet")
    try {
      val hit = MetadataOps.getTables(spark, "graft_meta*", "*")
      assert(hit.filter("TABLE_NAME = 't1'").count() == 1)
      val miss = MetadataOps.getTables(spark, "no_such_db*", "*")
      assert(miss.count() == 0)

      val cols = MetadataOps.getColumns(spark, "graft_meta_db.t1")
      assert(cols.columns.contains("NULLABLE") && cols.columns.contains("IS_NULLABLE"))
      val r = cols.filter("COLUMN_NAME = 'id'").head()
      assert(r.getAs[String]("IS_NULLABLE") == "YES")
      assert(r.getAs[Int]("NULLABLE") == java.sql.DatabaseMetaData.columnNullable)
    } finally spark.sql("DROP DATABASE IF EXISTS graft_meta_db CASCADE")
  }

  test("DSv2 metadata walk sees generator-catalog namespaces and tables") {
    spark.conf.set("spark.sql.catalog.tpch", classOf[graft.sources.tpch.TpchCatalog].getName)
    val schemas = MetadataOps.getSchemasAllCatalogs(spark).collect()
    assert(schemas.exists(r => r.getString(1) == "tpch" && r.getString(0) == "tiny"),
      s"tpch.tiny missing from ${schemas.mkString(",")}")
    val tables = MetadataOps.getTablesForCatalog(spark, "tpch").collect()
    assert(tables.exists(_.getAs[String]("TABLE_NAME") == "lineitem"))
    assert(tables.forall(_.getAs[String]("TABLE_CAT") == "tpch"))
  }

  test("getPrimaryKeys / getCrossReference: empty results, JDBC schemas") {
    assert(MetadataOps.getPrimaryKeys(spark).count() == 0)
    assert(MetadataOps.getPrimaryKeys(spark).columns.toSeq ==
      Seq("TABLE_CAT", "TABLE_SCHEM", "TABLE_NAME", "COLUMN_NAME", "KEY_SEQ", "PK_NAME"))
    assert(MetadataOps.getCrossReference(spark).count() == 0)
  }

  test("SaveToFile does not spill small stats-less results") {
    val engine = new Engine(spark)
    val sess = engine.openSession("carol")
    val dir = java.nio.file.Files.createTempDirectory("graft_spill").toString
    val op = sess.executeStatement(
      "SELECT id FROM range(5)", ResultMode.SaveToFile(dir, minRows = 1000))
    op.awaitTermination()
    assert(op.currentState == OperationState.Finished,
      s"op failed: ${op.exception}")
    assert(new java.io.File(dir).listFiles().forall(!_.getName.startsWith("graft-result")),
      "small result must not take the ORC spill path")
    assert(op.fetchIterator.toSeq.size == 5)
  }

  test("PlanOnly: optimize_with_stats and json style and lineage") {
    val stats = PlanOnly.run(spark, "SELECT 1 AS one", PlanOnly.OptimizeWithStats)
    assert(stats.contains("Statistics"), s"no stats in: $stats")
    val json = PlanOnly.run(spark, "SELECT 1 AS one", PlanOnly.Parse, PlanOnly.Json)
    assert(json.trim.startsWith("["), s"not json: ${json.take(50)}")
    spark.sql("CREATE OR REPLACE TEMP VIEW graft_lin AS SELECT id AS base FROM range(10)")
    val lin = PlanOnly.run(spark,
      "SELECT base + 1 AS derived FROM graft_lin", PlanOnly.Lineage)
    assert(lin.contains("derived"), s"lineage output: $lin")
  }

  test("ColumnLineage traces through project/aggregate/join") {
    val t = graft.Tables(spark, SparkFixture.sfDir)
    val df = t.orders.join(t.customer,
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(org.apache.spark.sql.functions.sum("o_totalprice").as("total"))
    val lin = graft.plans.ColumnLineage.of(df.queryExecution.optimizedPlan)
    assert(lin("total").exists(_.endsWith("o_totalprice")), s"lineage: $lin")
    assert(lin("c_mktsegment").exists(_.endsWith("c_mktsegment")))
  }
}
