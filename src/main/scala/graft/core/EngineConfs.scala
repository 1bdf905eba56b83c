package graft.core

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** How graft builds a SparkSession, in ONE place: the server engine
  * (EngineMain), Bench, Verify, HiveSupport and every dev tool open
  * their session through [[EngineConfs.session]], so the gateway serves
  * the same extended, tuned engine the bench measures and the plans
  * are dumped under (r17 VERDICT #2/#3: per-site session code drifts).
  *
  * Every tuned entry must be scale-adaptive (decided from runtime-
  * measured sizes, never from a local core count); rationale and the
  * per-section A/B evidence live in OPTIMIZATION_r18.md.
  */
object EngineConfs {

  /** (key, value, why) — the why lands in docs/tests, not the session. */
  val tuned: Seq[(String, String)] = Seq(
    // Let AQE rewrite sort-merge joins to shuffled-hash when every
    // post-shuffle build partition fits the advisory partition budget
    // (guide §3.1's size-gated knob, decided from MEASURED partition
    // sizes at runtime — scale-adaptive by construction; 64m matches
    // advisoryPartitionSizeInBytes so the build memory per task is the
    // budget the coalescer already targets). r17 A/B: tpcds_sf10 q4
    // 7.8→5.5, q23b 10.9→9.2, q14 6.9→5.9; tpch_sf1 q9 2.5→1.5,
    // q21 2.5→1.5. Default is 0 (off) only because Spark keeps the
    // conservative pre-AQE behavior.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m"
    // NOTE deliberately ABSENT:
    // spark.sql.adaptive.coalescePartitions.minPartitionSize=64k (the
    // r17 setting) let AQE's parallelism-first rule split every small
    // shuffle into ~cores tiny partitions; genuinely helpful only on
    // sub-core·MB shuffles feeding high-fanout stages — which
    // SkewTools.spreadIfNarrow already keeps parallel — and measurably
    // harmful on every small multi-stage query at local[32] (r17
    // driver bench: published TPC-DS slice +150 %, sf1 corpus +23 %;
    // the same queries ran at r16 speed at 8 cores — task-count
    // overhead, not plan change). r18 re-litigated it per section and
    // dropped it; evidence in OPTIMIZATION_r18.md.
  )

  /** Apply the tuned confs to a `SparkSession.Builder` made outside [[session]]. */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    tuned.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The confs every graft session starts from. The master is the one
    * `SparkConf` already holds (spark-submit, or `-Dspark.master` on a
    * bare-java engine launch), else `local[cpus]`; shuffle partitions
    * follow a local master's core count, and a cluster master keeps
    * Spark's default.
    */
  def base(presetMaster: Option[String], cpus: Int): Map[String, String] = {
    val master = presetMaster.getOrElse(s"local[$cpus]")
    Map("spark.master" -> master,
      "spark.sql.extensions" -> classOf[graft.plans.GraftSparkExtension].getName,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ tuned ++
      localCores(master).map(n => "spark.sql.shuffle.partitions" -> n.toString)
  }

  private val LocalN = """local\[(\d+|\*)(?:,\d+)?\]""".r

  private def localCores(master: String): Option[Int] = master match {
    case "local" => Some(1)
    case LocalN("*") => Some(Runtime.getRuntime.availableProcessors)
    case LocalN(n) => Some(n.toInt)
    case _ => None
  }

  /** `SPARK_GRAFT_CPUS`, else the cores this JVM may use. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Dev-only A/B overlay, `SPARK_GRAFT_PROFILE_CONF="k=v;k=v"`. Only
    * Bench and Probe apply it; the server and Verify never read it.
    */
  lazy val profileOverlay: Seq[(String, String)] =
    sys.env.getOrElse("SPARK_GRAFT_PROFILE_CONF", "").split(";").toSeq
      .filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      }

  /** The session factory: [[base]] under the process's preset master,
    * then the caller's own confs (app name, warehouse or metastore dirs)
    * and, with `hive`, the Hive catalog.
    */
  def session(appName: String, confs: Seq[(String, String)] = Nil,
      hive: Boolean = false): SparkSession = {
    val b = (base(new SparkConf().getOption("spark.master"), cpus).toSeq ++ confs)
      .foldLeft(SparkSession.builder().appName(appName)) { case (bb, (k, v)) => bb.config(k, v) }
    (if (hive) b.enableHiveSupport() else b).getOrCreate()
  }
}
