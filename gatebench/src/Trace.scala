package gatebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

import graft.core.Events

/** One recorded interval: `stmt` ties spans of one statement together. */
final case class Span(id: Long, parent: Long, name: String, stmt: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, `span` runs its body and records
  * nothing, so the untraced run pays one branch per boundary.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)

  def span[A](name: String, stmt: String = null)(body: => A): A =
    if (!enabled) body
    else {
      val outer = stack.get()
      val id = ids.incrementAndGet()
      val st = Option(stmt).orElse(outer.headOption.map(_._2)).orNull
      stack.set((id, st) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.set(outer)
        spans.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), name, st, t0, System.nanoTime()))
      }
    }

  /** Id of this thread's innermost open span, 0 outside any. */
  def currentId: Long = stack.get().headOption.map(_._1).getOrElse(0L)

  /** Record an interval measured elsewhere. */
  def record(name: String, stmt: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, name, stmt, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: each span's duration minus the part of
    * its interval its children cover.
    */
  def selfTimesMs: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k =>
          (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))).filter(i => i._2 > i._1)
          .sortBy(_._1)
        var covered = 0L
        var curS = Long.MinValue
        var curE = Long.MinValue
        kids.foreach { case (a, b) =>
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""stmt":${if (s.stmt == null) "null" else Json.str(s.stmt)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark work per operation job group (`graft-op-<handle>`), counted
  * by a listener the benchmark registers from outside.
  */
final class JobCounter extends SparkListener {
  final class Group {
    val jobs = new LongAdder
    val tasks = new LongAdder
    val jobMs = new LongAdder
    val shuffleBytes = new LongAdder
    val spillBytes = new LongAdder
    val bytesWritten = new LongAdder
  }
  private val groups = new ConcurrentHashMap[String, Group]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def group(g: String): Group = groups.computeIfAbsent(g, _ => new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobGroup.put(e.jobId, (g, e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
    group(g).jobs.increment()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (g, t0) => group(g).jobMs.add(e.time - t0) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = group(Option(stageGroup.get(e.stageId)).getOrElse("none"))
    g.tasks.increment()
    Option(e.taskMetrics).foreach { m =>
      g.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      g.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      g.bytesWritten.add(m.outputMetrics.bytesWritten)
    }
  }

  def forGroup(g: String): Option[Group] = Option(groups.get(g))
  def opGroup(handle: String): Option[Group] = forGroup(s"graft-op-$handle")
}

/** Operation phase stamps (ms) from the program's own event bus. */
final class PhaseLog extends Events.Handler {
  private val stamps = new ConcurrentHashMap[String, ConcurrentHashMap[String, java.lang.Long]]()

  override def onEvent(e: Events.Event): Unit = e match {
    case o: Events.OperationEvent =>
      stamps.computeIfAbsent(o.opId, _ => new ConcurrentHashMap()).putIfAbsent(o.state, o.ts)
    case _ =>
  }

  /** Epoch-ms stamps of two states of operation `op`, if both seen. */
  def interval(op: String, from: String, to: String): Option[(Long, Long)] =
    Option(stamps.get(op)).flatMap { m =>
      for (a <- Option(m.get(from)); b <- Option(m.get(to))) yield (a.longValue, b.longValue)
    }
}
