package graft.core

import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Multi-tenancy under concurrency: many sessions running statements
  * simultaneously against one engine (shared SparkContext, isolated
  * session state), plus explicit cancellation of a running operation.
  */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("16 sessions x 4 statements run concurrently with correct results") {
    val engine = new Engine(spark)
    // submissions block in awaitTermination on `pool`; operations run
    // on the engine's own pool
    val pool = Executors.newFixedThreadPool(16)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val work = (1 to 16).map { u =>
        Future {
          val sess = engine.openSession(s"user$u")
          (1 to 4).map { i =>
            val op = sess.executeStatement(
              s"SELECT sum(id) AS s FROM range(${u * 1000 + i})")
            op.awaitTermination(120000)
            assert(op.currentState == OperationState.Finished, s"${op.exception}")
            val n = (u * 1000 + i).toLong
            assert(op.fetchIterator.next().getLong(0) == n * (n - 1) / 2)
          }
          engine.closeSession(sess.id)
        }
      }
      Await.result(Future.sequence(work), 180.seconds)
      assert(engine.openSessionCount == 0)
    } finally { pool.shutdown(); engine.close() }
  }

  test("cancel() stops a running statement and lands in CANCELED") {
    val engine = new Engine(spark)
    val sess = engine.openSession("canceller")
    // a statement slow enough to still be running when we cancel
    val op = sess.executeStatement(
      "SELECT count(*) FROM range(1000000000) a CROSS JOIN range(100) b")
    // The op passes through RUNNING into COMPILED within milliseconds
    // (COMPILED = spark.sql returned, jobs now executing); waiting for
    // RUNNING alone can miss the window entirely and burn the whole
    // deadline while the query completes — then cancel() arrives too
    // late and the test flakes FINISHED.
    val deadline = System.nanoTime() + 30e9.toLong
    while (!Set[OperationState](OperationState.Running, OperationState.Compiled)
        .contains(op.currentState) && System.nanoTime() < deadline)
      Thread.sleep(5)
    op.cancel()
    val state = op.awaitTermination(60000)
    assert(state == OperationState.Canceled, s"got $state")
  }

  test("cancel racing completion never poisons the pooled thread's interrupt flag") {
    // Regression for the run()-epilogue race: a canceller that read a
    // non-null execThread must not deliver its interrupt AFTER the
    // runner nulled the ref and cleared the flag — that would hand a
    // poisoned interrupt to the executor's next task. Operation guards
    // the interrupt and the null+clear pair with one lock; this stress
    // loop races cancel() against fast completions on the engine's pool
    // cut to ONE thread and probes the flag after every round (FIFO
    // guarantees the probe runs after the op's body has fully exited).
    val engine = singleThreadEngine()
    val sess = engine.openSession("racer")
    try {
      for (i <- 1 to 200) {
        val op = sess.executeStatement(s"SELECT $i AS v")
        // jitter the cancel point across the op lifecycle so some land
        // mid-run, some in the epilogue, some after terminal
        if (i % 3 == 1) Thread.sleep(0, (i % 7) * 100000)
        else if (i % 3 == 2) Thread.sleep(i % 5)
        op.cancel()
        op.awaitTermination(60000)
        assert(op.currentState.terminal, s"iteration $i: ${op.currentState}")
        val probe = engine.operationPool.submit(() => Thread.interrupted())
        assert(!probe.get(10, TimeUnit.SECONDS),
          s"iteration $i left a poisoned interrupt flag on the pooled thread")
      }
    } finally engine.close()
  }

  test("a mid-run interrupt cannot leave the op RUNNING or wedge the next op") {
    // Regression: scala.util.Try catches only NonFatal, so a cancel's
    // InterruptedException escaping runInternal used to blow through
    // the run() epilogue — skipping the interrupt-flag clear AND the
    // execThread release. The op could sit non-terminal forever
    // (clients polling an op no thread executes) and the pooled
    // thread, still referenced by the dead op's execThread, could be
    // interrupted AGAIN while running the NEXT operation. run() now
    // catches Throwable, so the epilogue is unconditional.
    val engine = singleThreadEngine()
    val sess = engine.openSession("interrupter")
    try {
      val op = sess.executeStatement(
        "SELECT count(*) FROM range(1000000000) a CROSS JOIN range(1000) b")
      val deadline = System.nanoTime() + 30e9.toLong
      while (!Set[OperationState](OperationState.Running, OperationState.Compiled)
          .contains(op.currentState) && System.nanoTime() < deadline)
        Thread.sleep(5)
      op.cancel() // cancels the job group AND interrupts the exec thread
      val st = op.awaitTermination(60000)
      assert(st.terminal, s"interrupted op must reach a terminal state, got $st")
      // the same pooled thread must run the next operation cleanly —
      // before the fix it could be wedged by the leftover interrupt
      val op2 = sess.executeStatement("SELECT 7 AS v")
      assert(op2.awaitTermination(60000) == OperationState.Finished,
        s"next op on the pool must finish: ${op2.currentState} ${op2.exception}")
      assert(op2.fetchIterator.next().getInt(0) == 7)
    } finally engine.close()
  }

  test("a statement submitted after Engine.close() fails at submit and is not registered") {
    val engine = new Engine(spark)
    val before = engine.openSession("before-close")
    engine.close()
    // a session the close ended, and one opened after it
    for (sess <- Seq(before, engine.openSession("after-close"))) {
      val handles = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener: Events.Handler = {
        case e: Events.OperationEvent if e.sessionId == sess.id => handles.add(e.opId)
        case _ => ()
      }
      Events.register(listener)
      try {
        intercept[IllegalStateException] { sess.executeStatement("SELECT 1 AS v") }
        assert(sess.openOperations.isEmpty)
        handles.asScala.foreach(h => assert(engine.operation(h).isEmpty, s"$h left registered"))
      } finally Events.unregister(listener)
    }
  }

  /** An engine whose operation pool runs one thread, so a test can
    * submit a probe behind an operation onto the very thread it used.
    */
  private def singleThreadEngine(): Engine = {
    val engine = new Engine(spark)
    engine.operationPool.setCorePoolSize(1)
    engine.operationPool.setMaximumPoolSize(1)
    engine
  }
}
