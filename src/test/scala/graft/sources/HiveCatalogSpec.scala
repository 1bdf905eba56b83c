package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.hive.HiveSupport

/** End-to-end Hive-metastore path: a session whose catalog is a real
  * `HiveExternalCatalog` over an embedded Derby metastore — DDL, Hive
  * SerDe write/read, metadata listing, and interop with the graft
  * engine surface (the same capability the reference's Hive connector
  * provides, via Spark's built-in support per SURVEY.md §2.C).
  */
class HiveCatalogSpec extends AnyFunSuite {

  // Build the shared fixture session FIRST so this spec exercises the
  // realistic case: the Hive session attaches to an already-running
  // SparkContext (as it would inside the gateway process).
  private lazy val hive = {
    graft.SparkFixture.spark
    val base = Files.createTempDirectory("graft-hive").toAbsolutePath
    HiveSupport.newHiveSession(
      metastoreDir = s"$base/metastore_db",
      warehouseDir = s"$base/warehouse")
  }

  test("hive support is on the classpath") {
    assert(HiveSupport.hiveAvailable)
  }

  test("session catalog is hive-backed") {
    val ext = hive.sharedState.externalCatalog.unwrapped.getClass.getName
    assert(ext.contains("HiveExternalCatalog"), s"got $ext")
  }

  test("hive DDL + SerDe write/read round-trip through the metastore") {
    hive.sql("CREATE DATABASE IF NOT EXISTS graft_hive")
    hive.sql("DROP TABLE IF EXISTS graft_hive.kv")
    // STORED AS PARQUET goes through the HiveSerDe mapping, not the
    // datasource path — proves the Hive table-definition plumbing.
    hive.sql("CREATE TABLE graft_hive.kv (k INT, v STRING) STORED AS PARQUET")
    hive.sql("INSERT INTO graft_hive.kv VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val got = hive.table("graft_hive.kv").orderBy(col("k"))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq == Seq((1, "a"), (2, "b"), (3, "c")))
    assert(hive.sql("SHOW TABLES IN graft_hive").collect()
      .map(_.getString(1)).contains("kv"))
    // Metastore-reported table type/provider:
    val desc = hive.sql("DESCRIBE TABLE EXTENDED graft_hive.kv")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("Provider").orElse(desc.get("SerDe Library")).isDefined)
  }

  test("hive tables are visible to the engine's metadata ops") {
    hive.sql("CREATE DATABASE IF NOT EXISTS graft_hive")
    hive.sql("CREATE TABLE IF NOT EXISTS graft_hive.meta_t (x INT) STORED AS PARQUET")
    val tables = graft.core.MetadataOps.getTables(hive, "graft_hive", "*")
      .collect().map(_.getString(2))
    assert(tables.contains("meta_t"))
  }

  test("partitioned hive table prunes partitions through the metastore") {
    hive.sql("CREATE DATABASE IF NOT EXISTS graft_hive")
    hive.sql("DROP TABLE IF EXISTS graft_hive.part_t")
    hive.sql("""CREATE TABLE graft_hive.part_t (v INT)
                PARTITIONED BY (p STRING) STORED AS PARQUET""")
    hive.sql("INSERT INTO graft_hive.part_t PARTITION (p='a') VALUES (1), (2)")
    hive.sql("INSERT INTO graft_hive.part_t PARTITION (p='b') VALUES (3)")
    assert(hive.sql("SHOW PARTITIONS graft_hive.part_t").count() == 2)
    val pruned = hive.table("graft_hive.part_t").filter(col("p") === "a")
    assert(pruned.count() == 2)
    // The pruned scan must read only partition a's files.
    val scan = pruned.queryExecution.executedPlan.toString
    assert(!scan.contains("p=b"), s"partition b not pruned:\n${scan.take(400)}")
  }
}
