package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import java.util.concurrent.CopyOnWriteArrayList

/** Lifecycle event surface — the reference's kyuubi-events module
  * (EventBus.post + JSON logging handlers feeding audit/history UIs):
  * session open/close and every operation state transition are posted
  * to registered handlers; the bundled [[Events.JsonlLogger]] appends
  * one JSON object per line, the format downstream log pipelines
  * ingest.
  *
  * Posting is fire-and-forget: a throwing handler never breaks the
  * query path, and with no handlers registered the hot-path cost is a
  * single empty-list check.
  */
object Events {

  sealed trait Event {
    def asJson: String
  }

  final case class SessionEvent(
      sessionId: String, user: String, action: String, ts: Long) extends Event {
    override def asJson: String =
      s"""{"event":"session","sessionId":${Json.quote(sessionId)},"user":${Json.quote(user)},""" +
        s""""action":${Json.quote(action)},"ts":$ts}"""
  }

  final case class OperationEvent(
      opId: String, sessionId: String, state: String,
      error: Option[String], ts: Long) extends Event {
    override def asJson: String =
      s"""{"event":"operation","opId":${Json.quote(opId)},"sessionId":${Json.quote(sessionId)},""" +
        s""""state":${Json.quote(state)}""" +
        error.map(e => s""","error":${Json.quote(e)}""").getOrElse("") +
        s""","ts":$ts}"""
  }

  /** Column lineage of a completed statement (reference
    * kyuubi-spark-lineage's OperationLineageEvent: the listener parses
    * the analyzed plan and posts output→source column mappings to the
    * event bus per query).
    */
  final case class LineageEvent(
      execId: Long,
      columns: Map[String, Set[String]],
      error: Option[String],
      ts: Long) extends Event {
    override def asJson: String = {
      val cols = columns.toSeq.sortBy(_._1).map { case (out, srcs) =>
        s"""${Json.quote(out)}:[${srcs.toSeq.sorted.map(Json.quote).mkString(",")}]"""
      }.mkString("{", ",", "}")
      s"""{"event":"lineage","execId":$execId,"columns":$cols""" +
        error.map(e => s""","error":${Json.quote(e)}""").getOrElse("") +
        s""","ts":$ts}"""
    }
  }

  /** An authorization DENY decision (the audit half of the reference's
    * Ranger plugin — every denied access lands on the audit trail;
    * allows are not audited here, the hot-path cut a Ranger deployment
    * makes with audit filters).
    */
  final case class AuthzAuditEvent(
      user: String, verb: String, resource: String, ts: Long) extends Event {
    override def asJson: String =
      s"""{"event":"authz","user":${Json.quote(user)},"verb":${Json.quote(verb)},""" +
        s""""resource":${Json.quote(resource)},"allowed":false,"ts":$ts}"""
  }

  /** A recall audit of a maintained ANN index (the operational loop
    * around IvfPqIndex.recallAudit): posted after an append wave with
    * the measured recall@k against the build-time baseline; `alarm`
    * fires when recall fell below the configured floor — the retrain
    * signal, surfaced on the same bus operators already watch
    * (reference pattern: event-driven ops over kyuubi-events).
    */
  final case class IndexAuditEvent(
      indexPath: String, streamId: String, batchId: Long,
      recall: Double, baseline: Double, k: Int, nProbe: Int,
      alarm: Boolean, ts: Long) extends Event {
    override def asJson: String =
      s"""{"event":"index_audit","indexPath":${Json.quote(indexPath)},""" +
        s""""streamId":${Json.quote(streamId)},"batchId":$batchId,""" +
        s""""recall":$recall,"baseline":$baseline,"k":$k,"nProbe":$nProbe,""" +
        s""""alarm":$alarm,"ts":$ts}"""
  }

  trait Handler {
    def onEvent(e: Event): Unit
  }

  private val handlers = new CopyOnWriteArrayList[Handler]()

  def register(h: Handler): Unit = handlers.add(h)
  def unregister(h: Handler): Unit = handlers.remove(h)

  /** Producers with non-trivial event construction cost (e.g. the
    * lineage plan walk) check this before building the event.
    */
  def hasHandlers: Boolean = !handlers.isEmpty

  def post(e: Event): Unit = {
    if (!handlers.isEmpty) {
      handlers.forEach { h =>
        try h.onEvent(e) catch { case _: Throwable => }
      }
    }
  }

  /** Bounded in-memory history of the most recent events (as their
    * JSON rendering) — the backing store for the admin UI's event
    * feed (the reference web-ui reads the server's event log the same
    * way). Fixed capacity: the bus may outlive millions of operations,
    * the feed only ever shows the tail.
    */
  final class RingBuffer(val capacity: Int = 512) extends Handler {
    private val buf = new java.util.ArrayDeque[String](capacity)
    private var dropped = 0L
    override def onEvent(e: Event): Unit = synchronized {
      if (buf.size >= capacity) { buf.removeFirst(); dropped += 1 }
      buf.addLast(e.asJson)
    }
    /** Most recent first. */
    def recent(limit: Int): Seq[String] = synchronized {
      import scala.jdk.CollectionConverters._
      buf.descendingIterator().asScala.take(math.max(0, limit)).toSeq
    }
    /** Oldest-evicted count since start — exported as a metric so
      * operators can SEE feed truncation instead of guessing.
      */
    def droppedCount: Long = synchronized { dropped }
  }

  /** One JSON object per line, append-only (the reference's
    * JsonLoggingEventHandler shape).
    */
  final class JsonlLogger(path: Path) extends Handler {
    Option(path.getParent).foreach(Files.createDirectories(_))
    override def onEvent(e: Event): Unit = synchronized {
      Files.write(path, (e.asJson + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }
}
