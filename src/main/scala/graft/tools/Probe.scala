package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}

import graft.Bench
import graft.queries.{TpcdsCorpusSql, TpchCorpusSql}

/** Dev-only timing probe: runs each named workload N times in Bench's
  * session and attributes every iteration's wall time to Spark jobs,
  * stages and tasks, then prints the slowest stages of the last
  * iteration (steady state, codegen warm) — so a claim is decomposed
  * into scheduling overhead vs real work before anything is changed.
  *
  * Names, comma-separated:
  *   - a SparkEntry query (`d10_jaccard_pairs`) on SPARK_GRAFT_SF_DIR's
  *     fixtures;
  *   - `<db>.<query>`, a TPC-H/TPC-DS corpus query on a database a prior
  *     full graft.Bench run materialized (`tpcds_sf10.q23b`,
  *     `tpch_sf1.q9`);
  *   - `w01` / `w02`, Bench's capped / uncapped winnow comparable.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=<fixtures> sbt "runMain graft.tools.Probe d10_jaccard_pairs,w01 [iters=2]"
  * `SPARK_GRAFT_PROFILE_CONF="k=v;k=v"` overlays session confs for A/B
  * runs; `PlanDump` dumps the plans.
  */
object Probe {

  final case class StageRow(jobId: Int, stageId: Int, name: String, tasks: Int,
      ms: Long, input: Long, shufRead: Long, shufWrite: Long)

  /** Every job and completed stage since the last `reset`. */
  final class StageListener extends SparkListener {
    private val stageToJob = mutable.Map.empty[Int, Int]
    private val rows = mutable.ArrayBuffer.empty[StageRow]
    private var started, ended = 0

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      started += 1
      js.stageIds.foreach(stageToJob(_) = js.jobId)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized { ended += 1 }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      val m = si.taskMetrics
      rows += StageRow(stageToJob.getOrElse(si.stageId, -1), si.stageId,
        si.name.takeWhile(_ != '\n'), si.numTasks,
        (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L),
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten)
    }

    def reset(): Unit = synchronized { rows.clear(); started = 0; ended = 0 }

    /** (jobs, stages) once every started job has ended. The scheduler
      * posts a job's stage and end events before its action returns, so
      * this waits only for the listener bus to deliver them.
      */
    def settle(): (Int, Seq[StageRow]) = {
      val deadline = System.nanoTime() + 10000000000L
      while (synchronized(ended < started) && System.nanoTime() < deadline) Thread.sleep(5)
      synchronized((started, rows.toSeq))
    }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val iters = if (args.length > 1) args(1).toInt else 2
    lazy val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the fixture dir SparkEntry queries read"))
    // corpus databases live in Bench's Derby catalog
    val spark = Bench.session(hive = names.exists(_.contains('.')))
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    // absorb session-boot one-time costs so iteration 1 isn't charged them
    spark.sql("SELECT sum(id) FROM range(1000000)").foreach(_ => ())
    lazy val winnow = Bench.winnowCorpus(spark)

    def workload(name: String): () => Unit = name.split("\\.", 2) match {
      case Array(db, q) =>
        val sqls = if (db.startsWith("tpch")) TpchCorpusSql.queries(db) else TpcdsCorpusSql.queries(db)
        val sql = sqls.toMap.apply(q)
        () => spark.sql(sql).foreach(_ => ())
      case _ if Bench.winnowCaps.contains(name) =>
        val adv = winnow // corpus generation is untimed setup
        () => Bench.winnowRun(adv, Bench.winnowCaps(name))
      case _ =>
        val (fn, dir) = (graft.SparkEntry.queries(name), sfDir)
        () => fn(spark, dir).foreach(_ => ())
    }

    names.foreach { name =>
      val run = workload(name)
      val walls = (1 to iters).map { it =>
        listener.reset()
        val t0 = System.nanoTime()
        run()
        val wall = (System.nanoTime() - t0) / 1e9
        val (jobs, stages) = listener.settle()
        graft.operators.SketchRegistry.releaseAll()
        val stageSec = stages.map(_.ms).sum / 1000.0
        println(f"[probe] $name iter=$it wall=$wall%.3fs jobs=$jobs stages=${stages.size} " +
          f"tasks=${stages.map(_.tasks).sum} sum_stage=$stageSec%.3fs gap=${wall - stageSec}%.3fs")
        if (it == iters) stages.sortBy(-_.ms).take(20).foreach { s =>
          println(f"[probe]   job=${s.jobId}%3d stage=${s.stageId}%4d ${s.ms}%6dms " +
            f"tasks=${s.tasks}%4d in=${s.input}%9d sr=${s.shufRead}%9d sw=${s.shufWrite}%9d " +
            s.name.take(80))
        }
        wall
      }
      println(f"[probe] $name min=${walls.min}%.3fs runs=${walls.map(w => f"$w%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
