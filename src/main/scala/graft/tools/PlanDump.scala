package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named SparkEntry queries to
  * `<outDir>/<query>_<suffix>.txt` — the optimization round's
  * before/after plan evidence (plans/r17/). Dev-only; the driver never
  * runs this.
  *
  * Usage:
  *   sbt "runMain graft.tools.PlanDump plans/r17 before d10_jaccard_pairs,d08_minhash_pairs"
  *   sbt "runMain graft.tools.PlanDump plans/r17 before ALL"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names =
      if (args(2) == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dump plans under the SAME session the bench measures (r17
    // VERDICT #3 — the r17 after-plans were dumped without the bench confs)
    val spark = graft.core.EngineConfs.session("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        graft.operators.SketchRegistry.releaseAll()
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
