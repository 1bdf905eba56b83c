package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

/** Dump `.explain("formatted")` for named SparkEntry queries to
  * `<outDir>/<query>_<suffix>.txt` — the optimization round's
  * before/after plan evidence (plans/r17/). Run-specific identifiers
  * are masked (see [[mask]]), so dumps of two trees diff only where a
  * plan changed. Dev-only; the driver never runs this.
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
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), mask(txt))
        graft.operators.SketchRegistry.releaseAll()
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Mask the identifiers that differ between two runs of one tree, so
    * that `diff -r` of two dumps shows only real plan changes. Queries
    * that run jobs while their plan is built (checkpoints, index builds)
    * shift every id allocated after them.
    */
  def mask(plan: String): String =
    Masks.foldLeft(plan) { case (text, (re, to)) => re.replaceAllIn(text, to) }

  private val Masks: Seq[(Regex, String)] = Seq(
    // expression ids: id#12L -> id#NL
    "#[0-9]+".r -> "#N",
    "plan_id=[0-9]+".r -> "plan_id=N",
    // RDD ids: MapPartitionsRDD[310] at localCheckpoint at ...
    "RDD\\[[0-9]+\\]".r -> "RDD[N]",
    // identity hashes: graft.operators.TopKAggregator@5a4700ba, [[[D@6fd027a1
    "(?<=[\\w$;\\[])@[0-9a-f]{1,8}\\b".r -> "@H",
    // temp-dir names: /tmp/graft-ivfpq-del10046708578566609594/codes
    "(?<=[A-Za-z_-])[0-9]{10,}".r -> "N")
}
