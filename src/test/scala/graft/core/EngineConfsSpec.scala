package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's base conf map, pinned without starting Spark. */
class EngineConfsSpec extends AnyFunSuite {

  test("the base session carries the extension, the tuned confs, UTC, no UI and a kept master") {
    val local = EngineConfs.base(presetMaster = None, cpus = 3)
    assert(local("spark.master") == "local[3]")
    assert(local("spark.sql.extensions") == classOf[graft.plans.GraftSparkExtension].getName)
    EngineConfs.tuned.foreach { case (k, v) => assert(local.get(k).contains(v), k) }
    assert(local("spark.sql.session.timeZone") == "UTC")
    assert(local("spark.ui.enabled") == "false")
    assert(local("spark.sql.shuffle.partitions") == "3")

    // a master SparkConf already holds wins, and partitions follow its cores
    val preset = EngineConfs.base(presetMaster = Some("local[1]"), cpus = 3)
    assert(preset("spark.master") == "local[1]")
    assert(preset("spark.sql.shuffle.partitions") == "1")
    // a cluster master keeps Spark's default partition count
    val yarn = EngineConfs.base(presetMaster = Some("yarn"), cpus = 3)
    assert(yarn("spark.master") == "yarn")
    assert(!yarn.contains("spark.sql.shuffle.partitions"))
    assert(yarn("spark.sql.extensions") == local("spark.sql.extensions"))
  }
}
