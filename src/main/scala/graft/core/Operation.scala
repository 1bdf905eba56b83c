package graft.core

import java.util.UUID
import java.util.concurrent.{Executor, ScheduledExecutorService, ScheduledFuture,
  ScheduledThreadPoolExecutor, TimeUnit}

import scala.collection.View
import scala.concurrent.Promise
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Async operation with lifecycle state, cancellation via Spark job
  * groups, and a query-timeout monitor — the gateway behavior of the
  * reference's engine operations (engine/spark/operation/
  * ExecuteStatement.scala:37-209 and SparkOperation.scala:158-195).
  */
abstract class Operation(val session: EngineSession) {
  val handle: String = UUID.randomUUID().toString
  val createdMs: Long = System.currentTimeMillis()

  @volatile private var state: OperationState = OperationState.Initialized
  @volatile protected var operationException: Option[Throwable] = None
  private val completion: Promise[Unit] = Promise[Unit]()

  // Per-operation log, fetchable while the op runs (the reference's
  // OperationLog surface: clients pull it via FetchResults with
  // fetchType=LOG — engine SparkOperation.getOperationLogRowSet).
  // Bounded so a chatty operation cannot hold the server's heap.
  private val opLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val opLogSize = new java.util.concurrent.atomic.AtomicInteger(0)
  private val OpLogCap = 10000

  protected[graft] def logLine(msg: String): Unit = {
    if (opLogSize.incrementAndGet() <= OpLogCap) {
      opLog.add(s"${java.time.Instant.now()} $msg")
    } else opLogSize.decrementAndGet()
  }

  /** Drain up to `max` pending log lines (incremental: each line is
    * delivered once, in order).
    */
  def fetchLog(max: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var n = 0
    var line = opLog.poll()
    while (line != null) {
      out += line
      opLogSize.decrementAndGet()
      n += 1
      line = if (n < max) opLog.poll() else null
    }
    out.result()
  }

  /** Non-consuming view of the pending log lines (the admin UI renders
    * these without stealing them from FetchResults(fetchType=LOG) /
    * localLog clients — lines those clients already drained are gone).
    */
  def peekLog(max: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    val it = opLog.iterator()
    var n = 0
    while (it.hasNext && n < max) { out += it.next(); n += 1 }
    out.result()
  }

  def currentState: OperationState = state

  protected def setState(to: OperationState): Unit = {
    val becameTerminal = synchronized {
      OperationState.validateTransition(state, to)
      logLine(s"operation $handle: $state -> $to")
      state = to
      to.terminal && !completion.isCompleted
    }
    // Post OUTSIDE the monitor: a slow handler (the JSONL logger is
    // synchronized file I/O) must not hold the operation lock — cancel/
    // close/awaitTermination contend on it. Callers must NOT wrap this
    // in their own synchronized (the lock is reentrant, so an outer
    // monitor would silently re-hold it through the post) — terminal
    // call sites use markTerminal below, which does the state check
    // atomically and posts lock-free.
    // The completion promise is released only AFTER the terminal event
    // is posted: awaitTermination() is the "the operation is done" read
    // barrier, and a waiter that wakes up must find the FINISHED/ERROR
    // event already delivered (EventsSpec raced exactly this under
    // suite load). The finally keeps waiters safe against a throwing
    // event bus.
    try {
      Events.post(Events.OperationEvent(handle, session.id, to.toString,
        operationException.map(e => String.valueOf(e.getMessage)),
        System.currentTimeMillis()))
    } finally {
      if (becameTerminal) completion.trySuccess(())
    }
  }

  /** Compare-and-transition: move to terminal state `to` unless the
    * operation already terminated. The check and the transition are
    * one atomic step under the monitor; the event post happens after
    * the monitor is released. Returns whether the transition won.
    */
  protected def markTerminal(to: OperationState): Boolean = {
    require(to.terminal, s"markTerminal called with non-terminal $to")
    val won = synchronized {
      if (state.terminal) false
      else {
        OperationState.validateTransition(state, to)
        logLine(s"operation $handle: $state -> $to")
        state = to
        true
      }
    }
    if (won) {
      disarmTimeout()
      // event BEFORE releasing awaitTermination waiters — see setState
      try {
        Events.post(Events.OperationEvent(handle, session.id, to.toString,
          operationException.map(e => String.valueOf(e.getMessage)),
          System.currentTimeMillis()))
      } finally {
        completion.trySuccess(())
        session.touch() // a finishing op is client activity: don't reap
      }
    }
    won
  }

  /** Job group id: lets cancel() kill all Spark jobs this op spawned,
    * and lets frontends derive stage progress from the status tracker.
    */
  def jobGroup: String = s"graft-op-$handle"

  protected def withJobGroup[A](f: => A): A = {
    val sc = session.spark.sparkContext
    sc.setJobGroup(jobGroup, s"graft operation $handle", interruptOnCancel = true)
    // Per-operation FAIR scheduler pool (reference SparkOperation.scala:172
    // reads kyuubi.operation.scheduler.pool and sets the
    // spark.scheduler.pool local property): a session pinned to a named
    // pool gets the pool's FAIR share, so one tenant's heavy statements
    // cannot starve the engine's other sessions. Local properties are
    // per-thread, so the finally-clear keeps pool assignments from
    // leaking across operations sharing the executor pool.
    val pool = session.spark.conf.getOption("spark.graft.operation.scheduler.pool")
    pool.foreach(p => sc.setLocalProperty("spark.scheduler.pool", p))
    try f finally {
      if (pool.isDefined) sc.setLocalProperty("spark.scheduler.pool", null)
      sc.clearJobGroup()
    }
  }

  protected def runInternal(): Unit

  // The thread executing runInternal, captured for the life of the run:
  // cancel() interrupts it, closing the race where a cancel lands after
  // cancelJobGroup ran but BEFORE the statement submitted its first job
  // (job-group cancellation only kills jobs already submitted — a job
  // launched afterwards under the cancelled group would run to
  // completion, burning the cluster for a statement nobody wants).
  @volatile private var execThread: Thread = _

  // Guards interrupt delivery against the run() epilogue: without it a
  // canceller that read a non-null execThread could deliver the
  // interrupt AFTER the runner nulled the ref and cleared the flag,
  // handing a poisoned interrupt back to the shared executor pool (the
  // exact condition the clear exists to prevent). Holding one lock
  // around both the interrupt() call and the null+clear pair makes the
  // clear the provably-last touch of the flag.
  private val interruptLock = new Object
  private def interruptExecThread(): Unit = interruptLock.synchronized {
    Option(execThread).foreach(_.interrupt())
  }

  /** Queue the operation on `pool`, its engine's operation pool. */
  private[core] def run(pool: Executor): Unit = {
    setState(OperationState.Pending)
    pool.execute { () =>
      execThread = Thread.currentThread()
      // NOT scala.util.Try: Try catches only NonFatal, and an
      // InterruptedException — exactly what the cancel/timeout paths
      // deliver to this thread — would blow straight through it,
      // skipping both the interrupt-flag clear below and the terminal
      // transition. The operation would then sit in RUNNING forever
      // with no thread executing it (clients poll an op that cannot
      // finish), and the pooled thread's poisoned flag would wedge the
      // NEXT operation the same way (observed: a cancelled statement's
      // interrupt left the following query-timeout test polling
      // GetOperationStatus in a busy loop for 10+ minutes).
      // The RUNNING transition is inside too: it throws for an operation
      // cancelled, timed out or closed while it queued, which then ends
      // here without running.
      var started = false
      val outcome =
        try { setState(OperationState.Running); started = true; withJobGroup(runInternal()); Success(()) }
        catch { case t: Throwable => Failure(t) }
      // release the thread ref and clear any interrupt leftover from a
      // racing cancel BEFORE the pooled thread returns to the executor —
      // a poisoned interrupt flag would abort the pool's next task.
      // Under interruptLock so a racing cancel either interrupts before
      // the clear or sees execThread == null and delivers nothing.
      interruptLock.synchronized {
        execThread = null
        Thread.interrupted()
      }
      outcome match {
        case Success(_) =>
          markTerminal(OperationState.Finished)
        case Failure(_) if !started => ()
        case Failure(e) =>
          operationException = Some(e)
          logLine(s"operation $handle failed: ${e.getClass.getName}: ${String.valueOf(e.getMessage)}")
          markTerminal(OperationState.Error)
      }
      // Backstop for the submission race: a cancel/timeout/close fires
      // cancelJobGroupAndFutureJobs, but the future-jobs tracking set is
      // bounded — re-cancel once more here, after this op's direct
      // submissions have provably stopped, to reap anything that slipped
      // through (AQE stage pools submit on this group from other threads).
      state match {
        case OperationState.Canceled | OperationState.Timeout | OperationState.Closed =>
          try session.spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
          catch { case _: Throwable => }
        case _ => ()
      }
    }
  }

  def cancel(): Unit = {
    // Win the terminal transition first, then kill the jobs: the
    // job-group cancel is a SparkContext call that must not run under
    // the operation monitor, and a lost race (op just finished) means
    // there is nothing to kill.
    if (markTerminal(OperationState.Canceled)) {
      // AndFutureJobs: under AQE, stage-materialization jobs are
      // submitted by a SEPARATE daemon pool carrying this group's
      // captured properties — a plain cancelJobGroup reaps only jobs
      // already submitted and an AQE stage landing a beat later would
      // burn to completion as an orphan (observed: a cancelled 10^12-row
      // count kept a core-saturating job alive for minutes).
      session.spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
      // also interrupt the execution thread: releases a waiter blocked
      // on a job the group-cancel raced past (see execThread)
      interruptExecThread()
    }
  }

  /** Close the operation and drop it from its session and the engine's
    * index: from here on no frontend resolves its handle, and a fetch
    * that raced the close finishes on the reference it already holds.
    */
  def close(): Unit = {
    session.forget(this)
    disarmTimeout()
    val transitioned = synchronized {
      if (state != OperationState.Closed) {
        if (!state.terminal) {
          session.spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
          interruptExecThread() // same race as cancel()
        }
        logLine(s"operation $handle: $state -> CLOSED")
        state = OperationState.Closed // closed is legal from anywhere
        true
      } else false
    }
    // close() bypasses setState, so post the terminal transition here
    // too — otherwise the event log shows force-closed operations as
    // RUNNING forever and the metrics counters never balance. As in
    // setState, waiters are released only AFTER the event is posted
    // (close() bypasses setState anywhere→Closed, so it must release
    // them here or awaitTermination() blocks its full timeout).
    if (transitioned) {
      try {
        Events.post(Events.OperationEvent(handle, session.id,
          OperationState.Closed.toString,
          operationException.map(e => String.valueOf(e.getMessage)),
          System.currentTimeMillis()))
      } finally {
        if (!completion.isCompleted) completion.trySuccess(())
      }
    }
  }

  // The armed timeout task: it holds this operation until it runs, so it
  // is cancelled (and, with the scheduler's remove-on-cancel, dropped
  // from its queue) once the operation is terminal or closed.
  @volatile private var timeoutTask: ScheduledFuture[_] = _

  private def disarmTimeout(): Unit = {
    val t = timeoutTask
    if (t != null) t.cancel(false)
  }

  /** Arm a timeout: if the op is not terminal after `ms`, cancel jobs
    * and mark TIMEOUT (ref ExecuteStatement timeout monitor :107-133).
    */
  def armTimeout(ms: Long, scheduler: ScheduledExecutorService): Unit = {
    timeoutTask = scheduler.schedule(new Runnable {
      override def run(): Unit = {
        if (markTerminal(OperationState.Timeout)) {
          session.spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
          interruptExecThread() // same race as cancel()
        }
      }
    }, ms, TimeUnit.MILLISECONDS)
    // terminal before the task was stored: nothing else will cancel it
    if (state.terminal) disarmTimeout()
  }

  def exception: Option[Throwable] = operationException

  /** Block until the operation reaches a terminal state. */
  def awaitTermination(timeoutMs: Long = 300000): OperationState = {
    scala.concurrent.Await.ready(completion.future,
      scala.concurrent.duration.Duration(timeoutMs, TimeUnit.MILLISECONDS))
    state
  }

  /** The long-poll read behind status calls: wait at most `maxMs` for
    * the operation to become terminal (finish, error, cancel, timeout
    * and close all complete the promise, so each wakes the waiter at
    * once), then return the current state. Never throws: a waiter that
    * runs out its bound, or is interrupted, reads the state as it is.
    */
  def awaitTerminal(maxMs: Long = Operation.StatusWaitMs): OperationState = {
    // terminal already: the common case for clients (hive-jdbc 2.3) that
    // re-read the status on every row they iterate
    if (!state.terminal) {
      try scala.concurrent.Await.ready(completion.future,
        scala.concurrent.duration.Duration(maxMs, TimeUnit.MILLISECONDS))
      catch {
        case _: java.util.concurrent.TimeoutException => ()
        case _: InterruptedException => Thread.currentThread().interrupt()
      }
    }
    state
  }
}

object Operation {
  /** How long a status read (Thrift GetOperationStatus, Trino nextUri)
    * holds for the operation to finish before it answers with the
    * current state: HiveServer2's first long-poll step, and a 2 Hz
    * refresh for progress-bar clients. Clients such as hive-jdbc poll
    * with no pause of their own, so without the hold each statement
    * costs thousands of status round trips that take cores from Spark.
    * A constant, not a setting.
    */
  val StatusWaitMs: Long = 500

  /** Shared scheduler for timeout monitors. A cancelled monitor leaves
    * the queue at once, so it does not keep its operation reachable
    * until its delay runs out.
    */
  lazy val timeoutScheduler: ScheduledThreadPoolExecutor = {
    val s = new ScheduledThreadPoolExecutor(1, (r: Runnable) => {
      val t = new Thread(r, "graft-timer")
      t.setDaemon(true)
      t
    })
    s.setRemoveOnCancelPolicy(true)
    s
  }
}

/** How ExecuteStatement materializes its result
  * (ref ExecuteStatement.scala:71-81,161-209).
  */
sealed trait ResultMode
object ResultMode {
  /** `df.collect()` — full materialization. */
  case object Full extends ResultMode
  /** `df.take(n)` — bounded by max-rows. */
  final case class Bounded(maxRows: Int) extends ResultMode
  /** `df.toLocalIterator()` — partition-at-a-time streaming. */
  case object Incremental extends ResultMode
  /** Results above `minRows` spill to ORC(zstd) and are re-read for
    * paging (ref ExecuteStatement.scala:172-199, FetchOrcStatement).
    */
  final case class SaveToFile(dir: String, minRows: Long = 10000) extends ResultMode
  /** Plan-aware Arrow batches (ref ArrowBasedExecuteStatement +
    * SparkDatasetHelper.scala:43-234): limited queries avoid full-scan
    * jobs; full results encode per-partition on executors. Pages are
    * record batches fetched via [[ExecuteStatement.arrowIterator]].
    */
  final case class Arrow(maxRecordsPerBatch: Int = 10000) extends ResultMode
}

/** An operation with a result: once it finishes, every wire reads the
  * schema and pages the rows through this one surface.
  */
trait ResultOperation extends Operation {
  @volatile protected var resultDF: DataFrame = _
  @volatile protected var iter: FetchIterator[Row] = _

  def result: DataFrame = resultDF
  /** Empty until the result compiles (and for a failed operation). */
  def resultSchema: StructType = if (resultDF == null) new StructType() else resultDF.schema
  def fetchIterator: FetchIterator[Row] = iter
}

/** SQL execution operation: `spark.sql(statement)` + the four
  * result-materialization strategies, exposing a FetchIterator over
  * rows.
  */
class ExecuteStatement(
    session: EngineSession,
    val statement: String,
    mode: ResultMode = ResultMode.Full)
  extends Operation(session) with ResultOperation {

  @volatile private var arrowIter: FetchIterator[Array[Byte]] = _
  @volatile private var spillPath: Option[String] = None

  /** Pages of IPC-serialized Arrow record batches (ResultMode.Arrow). */
  def arrowIterator: FetchIterator[Array[Byte]] = arrowIter

  override protected def runInternal(): Unit = {
    resultDF = session.spark.sql(statement)
    setState(OperationState.Compiled)
    // a re-creatable view over toLocalIterator: partition-at-a-time paging
    def streamed(df: DataFrame) =
      new IterableFetchIterator(View.fromIteratorProvider(() => df.toLocalIterator().asScala))
    iter = mode match {
      case ResultMode.Full =>
        new ArrayFetchIterator(resultDF.collect())
      case ResultMode.Bounded(n) =>
        new ArrayFetchIterator(resultDF.take(n))
      case ResultMode.Incremental =>
        streamed(resultDF)
      case ResultMode.SaveToFile(dir, minRows) =>
        // Spill only when the result is KNOWN (stats) or OBSERVED
        // (bounded probe) to be big: without CBO, rowCount is None, and
        // treating unknown as big would route every 3-row result
        // through an ORC write + re-read.
        val statsSayBig = resultDF.queryExecution.optimizedPlan.stats.rowCount
          .exists(_.longValue >= minRows)
        lazy val probe = resultDF.take(math.min(minRows, 100000L).toInt + 1)
        if (statsSayBig || probe.length > minRows) {
          val path = s"$dir/graft-result-$handle"
          resultDF.write
            .option("compression", "zstd")
            .format("orc")
            .save(path)
          spillPath = Some(path)
          streamed(session.spark.read
            .schema(resultDF.schema)
            .format("orc").load(path))
        } else {
          new ArrayFetchIterator(probe)
        }
      case ResultMode.Arrow(maxPerBatch) =>
        arrowIter = new ArrayFetchIterator(
          org.apache.spark.sql.graft.ArrowHelper
            .collectAsArrowBatches(resultDF, maxPerBatch).toArray)
        new ArrayFetchIterator(Array.empty[Row])
    }
  }

  override def close(): Unit = {
    super.close()
    // Release the sketch frames THIS session's operators persisted —
    // the ledger is keyed by owning SparkSession, so another tenant's
    // in-flight sketches stay cached.
    graft.operators.SketchRegistry.release(session.spark)
    // best-effort cleanup of the spill dir (ref ExecuteStatement.scala:63-69)
    spillPath.foreach { p =>
      try {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          session.spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(p), true)
      } catch { case _: Throwable => }
    }
  }
}

/** A DataFrame-producing operation (the metadata-operation family:
  * catalogs/schemas/tables/columns/functions/typeInfo…): the builder
  * runs under the operation lifecycle and the result is collected, so
  * every wire pages it exactly as it pages a statement's (reference
  * SessionsResource metadata operations → OperationsResource rowset).
  */
class DataFrameOperation(session: EngineSession,
    build: SparkSession => DataFrame)
  extends Operation(session) with ResultOperation {

  override protected def runInternal(): Unit = {
    resultDF = build(session.spark)
    iter = new ArrayFetchIterator(resultDF.collect())
  }
}
