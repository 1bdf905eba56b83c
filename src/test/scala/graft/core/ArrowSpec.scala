package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.apache.spark.sql.graft.ArrowHelper
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Arrow result path: correctness of the batches and the plan-aware
  * guarantee that a LIMIT query does not launch a full-scan job
  * (reference behavior: SparkDatasetHelper CollectLimitExec
  * special-case; asserted here with a task-count listener).
  */
class ArrowSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  private def countTasks[A](body: => A): (A, Int) = {
    val tasks = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(500) // let the listener bus drain
      (out, tasks.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("limited query produces its Arrow page without a full-scan job") {
    // 64 input partitions; executeTake must stop after the first few
    val df = spark.range(0, 10000000L, 1, 64).selectExpr("id", "id * 2 AS v").limit(5)
    val (batches, tasks) = countTasks(ArrowHelper.collectAsArrowBatches(df))
    assert(ArrowHelper.rowCount(batches, df) == 5)
    assert(tasks <= 8, s"$tasks tasks launched for a LIMIT 5 — full scan not avoided")
  }

  test("local relations produce Arrow batches with zero jobs") {
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("n", "s")
    val (batches, tasks) = countTasks(ArrowHelper.collectAsArrowBatches(df))
    assert(ArrowHelper.rowCount(batches, df) == 2)
    assert(tasks == 0, s"$tasks tasks for a LocalTableScan")
  }

  test("full results round-trip through executor-side Arrow encode") {
    val df = spark.range(0, 100000, 1, 8).selectExpr("id", "CAST(id AS STRING) AS s")
    val batches = ArrowHelper.collectAsArrowBatches(df, maxRecordsPerBatch = 7000)
    assert(batches.size >= 8, "expected at least one batch per partition")
    assert(ArrowHelper.rowCount(batches, df) == 100000)
  }

  test("ResultMode.Arrow wires batches through ExecuteStatement") {
    val engine = new Engine(spark)
    val sess = engine.openSession("arrow-user")
    val op = sess.executeStatement(
      "SELECT id FROM range(100)", ResultMode.Arrow(maxRecordsPerBatch = 30))
    op.awaitTermination()
    assert(op.currentState == OperationState.Finished, s"${op.exception}")
    val batches = op.arrowIterator.toSeq
    assert(batches.size >= 3)
    assert(ArrowHelper.rowCount(batches, op.result) == 100)
  }
}
