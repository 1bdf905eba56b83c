package graft.server

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedDeque

/** Child-JVM execution of an UPLOADED batch resource — the reference's
  * real REST batch story: `POST /api/v1/batches` is spark-submit of a
  * user artifact through a SparkBatchProcessBuilder
  * (kyuubi-server/.../engine/spark/SparkBatchProcessBuilder.scala;
  * BatchJobSubmission drives the process and mirrors its state into
  * the metadata store), not a SQL statement.
  *
  * Command construction mirrors [[EngineProcBuilder]]'s two paths:
  * with SPARK_HOME set, `spark-submit --class <mainClass> <jar>
  * <args>` (the deployment shape); otherwise a bare java child with
  * Spark's module-opens, this JVM's classpath PLUS the staged jar —
  * the uploaded application can still build a local SparkSession. The
  * builder only constructs; [[BatchJob]] owns one process's lifecycle.
  *
  * Every command carries `graft.batch.tag=<id>` on its command line —
  * the reference's KYUUBI_BATCH_ID_KEY tag that lets a restarted
  * server FIND a still-running batch
  * (`RestFrontend.findBatchProcessByTag`) instead of double-submitting
  * it.
  */
final class BatchJobBuilder(
    sparkHome: Option[String] = sys.env.get("SPARK_HOME"),
    master: String = sys.env.getOrElse("SPARK_MASTER", "local[2]"),
    sparkConf: Map[String, String] = Map.empty) {

  /** The exact command `start` will run for one staged resource.
    * A `.py` resource runs as a PYSPARK batch (spark-submit's primary
    * resource with no --class; fallback: a python3 child — the tag
    * rides as a trailing `--graft.batch.tag=<id>` argv, since python
    * has no -D system properties for the adoption scan to find).
    *
    * `extraResources` are staged sidecar artifacts (the reference's
    * `extraResourcesMap` companions — BatchesResource.scala:199-224):
    * spark-submit groups them by suffix into `--jars` / `--py-files` /
    * `--files` (what a real submit carries); the bare-java fallback
    * appends jar sidecars to the child's classpath; the python3
    * fallback needs nothing — sidecar .py files sit in the script's
    * own staging dir, which python puts on sys.path.
    */
  def command(id: String, resource: Path, mainClass: Option[String],
      args: Seq[String], extraResources: Seq[Path] = Nil,
      requestConf: Map[String, String] = Map.empty): Seq[String] = {
    val isPy = resource.toString.endsWith(".py")
    def group(suffixes: String*): Seq[String] =
      extraResources.map(_.toString).filter(p => suffixes.exists(p.endsWith))
    // the batchRequest's conf map rides into the child (reference: the
    // request conf becomes spark-submit --conf pairs) — but only real
    // spark.* settings; the master and the adoption tag are the
    // SERVER's to set, or a client could detach its batch from both
    val userConf = requestConf.filter { case (k, _) =>
      k.startsWith("spark.") && k != "spark.master" && k != "spark.graft.batch.tag"
    }
    sparkHome match {
      case Some(home) =>
        val conf = Map(
          "spark.master" -> master,
          "spark.graft.batch.tag" -> id,
          "spark.ui.enabled" -> "false") ++ sparkConf ++ userConf
        val jars = group(".jar")
        val pyFiles = group(".py", ".zip", ".egg")
        val files = extraResources.map(_.toString)
          .diff(jars).diff(pyFiles)
        Seq(s"$home/bin/spark-submit") ++
          (if (isPy) Nil else mainClass.toSeq.flatMap(c => Seq("--class", c))) ++
          conf.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq("--conf", s"$k=$v") } ++
          (if (jars.nonEmpty) Seq("--jars", jars.mkString(",")) else Nil) ++
          (if (pyFiles.nonEmpty) Seq("--py-files", pyFiles.mkString(",")) else Nil) ++
          (if (files.nonEmpty) Seq("--files", files.mkString(",")) else Nil) ++
          Seq(resource.toString) ++ args
      case None if isPy =>
        Seq("python3", resource.toString) ++ args ++ Seq(s"--graft.batch.tag=$id")
      case None =>
        val javaBin = s"${System.getProperty("java.home")}/bin/java"
        val moduleOpts = org.apache.spark.launcher.JavaModuleOptions
          .defaultModuleOptions().split("\\s+").toSeq.filter(_.nonEmpty)
        val cp = (Seq(System.getProperty("java.class.path"), resource.toString) ++
          group(".jar")).mkString(java.io.File.pathSeparator)
        Seq(javaBin) ++ moduleOpts ++ Seq(
          "-Xmx1g", "-Dspark.ui.enabled=false", s"-Dgraft.batch.tag=$id") ++
          userConf.toSeq.sortBy(_._1).map { case (k, v) => s"-D$k=$v" } ++ Seq(
          "-cp", cp,
          mainClass.getOrElse(throw new IllegalArgumentException(
            "classname is a required parameter for SPARK"))) ++ args
    }
  }

  /** Launch the batch process. `onTerminal` fires exactly once with
    * the final state name (FINISHED / ERROR / CANCELED). `exitFile`,
    * when set, wraps the child in a shell that records the real exit
    * code on termination — the truth a LATER server incarnation reads
    * when it adopts the process (see [[BatchJob.attach]]).
    */
  def start(id: String, user: String, resource: Path, mainClass: Option[String],
      args: Seq[String], onTerminal: String => Unit,
      extraResources: Seq[Path] = Nil,
      exitFile: Option[Path] = None,
      requestConf: Map[String, String] = Map.empty): BatchJob =
    BatchJob.launch(id, user,
      if (resource.toString.endsWith(".py")) "PYSPARK" else "SPARK",
      BatchJobBuilder.wrapWithExitFile(
        command(id, resource, mainClass, args, extraResources, requestConf),
        exitFile),
      onTerminal)
}

object BatchJobBuilder {

  /** POSIX single-quote an argv element for embedding in `sh -c`. */
  private[server] def shellQuote(s: String): String =
    "'" + s.replace("'", "'\\''") + "'"

  /** Wrap a command so its REAL exit code outlives this server: the
    * child runs under `sh -c '<cmd>; ec=$?; echo $ec > <exitFile>;
    * exit $ec'`. A restarted server that ADOPTS the surviving process
    * (no waitFor access for a non-child) reads the file on exit
    * instead of settling FINISHED blind — a crash-looping adopted
    * batch now lands in ERROR. The tag stays on BOTH the wrapper's
    * command line and the inner JVM's; the adoption scan picks the
    * ROOT tagged process (the wrapper) and kills the whole tree.
    */
  private[server] def wrapWithExitFile(cmd: Seq[String],
      exitFile: Option[Path]): Seq[String] = exitFile match {
    case None => cmd
    case Some(f) =>
      val quoted = cmd.map(shellQuote).mkString(" ")
      val tmp = shellQuote(f.toString + ".tmp")
      val fin = shellQuote(f.toString)
      // write-then-rename so a reader never sees a half-written code
      Seq("/bin/sh", "-c",
        s"$quoted; ec=$$?; echo $$ec > $tmp && mv $tmp $fin; exit $$ec")
  }
}

/** One running uploaded-resource batch: state machine + incremental
  * log over a child process (the reference BatchJobSubmission's
  * operation surface: state polls, localLog paging, kill).
  *
  * States use the engine's OperationState vocabulary so the metadata
  * store and the REST appState mapping treat process batches exactly
  * like statement batches: RUNNING → FINISHED (exit 0) / ERROR
  * (exit != 0) / CANCELED (killed through [[cancel]]).
  *
  * Two modes: [[BatchJob.launch]] spawns and fully owns a child
  * (stdout drained into the log ring, exit code inspected);
  * [[BatchJob.attach]] adopts a process a PREVIOUS server incarnation
  * spawned, found by its command-line tag — no waitFor access for a
  * non-child, so the truth comes from the exit FILE the launch
  * wrapper writes ([[BatchJobBuilder.wrapWithExitFile]]): present →
  * FINISHED/ERROR by recorded code; absent (pre-wrapper launches, or
  * a wrapper killed before the write) → FINISHED, the reference's
  * recovered-app visibility (the cluster reports the app gone, not
  * its exit status).
  */
final class BatchJob private (val id: String, val user: String,
    val batchType: String,
    target: Either[Seq[String], ProcessHandle], onTerminal: String => Unit,
    exitFile: Option[Path] = None) {

  @volatile private var state: String = "PENDING"
  @volatile private var canceled = false
  private val log = new ConcurrentLinkedDeque[String]()
  private val logCap = 10000
  private val terminalLatch = new java.util.concurrent.CountDownLatch(1)

  def currentState: String = state
  def isTerminal: Boolean = Set("FINISHED", "ERROR", "CANCELED")(state)

  /** Block until the batch settles (the submitter-queue worker's hold
    * on its pool slot). True when terminal, false on timeout.
    */
  def awaitTerminal(timeoutMs: Long): Boolean =
    terminalLatch.await(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)

  private val proc: Either[Process, ProcessHandle] = target match {
    case Left(cmd) =>
      log.addLast(s"launching: ${cmd.mkString(" ")}")
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      state = "RUNNING"
      Left(p)
    case Right(h) =>
      log.addLast(s"re-attached to live batch process pid ${h.pid()}")
      state = "RUNNING"
      Right(h)
  }

  def pid: Long = proc.fold(_.pid(), _.pid())

  private def settle(terminal: String): Unit = {
    state = terminal
    try onTerminal(terminal) catch { case _: Throwable => }
    terminalLatch.countDown()
  }

  // Owned child: drain its combined output into the bounded log ring
  // (a full pipe would deadlock the child), then settle the terminal
  // state from the exit code. Attached process: just await its exit.
  private val watcher = new Thread(() => proc match {
    case Left(p) =>
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      try {
        var line = r.readLine()
        while (line != null) {
          log.addLast(line)
          while (log.size > logCap) log.pollFirst()
          line = r.readLine()
        }
      } catch { case _: Throwable => }
      val code = p.waitFor()
      settle(
        if (canceled) "CANCELED"
        else if (code == 0) "FINISHED"
        else { log.addLast(s"process exited with code $code"); "ERROR" })
    case Right(h) =>
      try h.onExit().join() catch { case _: Throwable => }
      // the launch wrapper records the real exit code beside the
      // staging dir; read it instead of settling FINISHED blind
      val recorded = exitFile.filter(Files.exists(_)).flatMap { f =>
        scala.util.Try(new String(Files.readAllBytes(f),
          java.nio.charset.StandardCharsets.US_ASCII).trim.toInt).toOption
      }
      recorded match {
        case Some(0) =>
          log.addLast("attached process exited with recorded code 0")
          settle(if (canceled) "CANCELED" else "FINISHED")
        case Some(c) =>
          log.addLast(s"attached process exited with recorded code $c")
          settle(if (canceled) "CANCELED" else "ERROR")
        case None =>
          log.addLast("attached process exited (no exit record; code not observable for a non-child)")
          settle(if (canceled) "CANCELED" else "FINISHED")
      }
  }, s"graft-batch-$id")
  watcher.setDaemon(true)
  watcher.start()

  /** Incremental log fetch: each line is delivered once (the batch
    * localLog contract).
    */
  def fetchLog(max: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var n = 0
    var line = log.pollFirst()
    while (line != null && n < max) {
      out += line
      n += 1
      line = if (n < max) log.pollFirst() else null
    }
    out.result()
  }

  /** Kill the batch (reference DELETE /batches/{id}): SIGTERM the
    * whole tree (the exit-file wrapper means the direct child is a
    * shell whose death alone would ORPHAN the JVM under it), then
    * SIGKILL survivors; the watcher settles CANCELED.
    */
  def cancel(): Unit = {
    canceled = true
    import scala.jdk.CollectionConverters._
    def killTree(h: ProcessHandle, force: Boolean): Unit = {
      h.descendants().iterator().asScala.foreach(d =>
        if (force) d.destroyForcibly() else d.destroy())
      if (force) h.destroyForcibly() else h.destroy()
    }
    proc match {
      case Left(p) =>
        killTree(p.toHandle, force = false)
        if (!p.waitFor(5, java.util.concurrent.TimeUnit.SECONDS))
          killTree(p.toHandle, force = true)
      case Right(h) =>
        killTree(h, force = false)
        try h.onExit().get(5, java.util.concurrent.TimeUnit.SECONDS)
        catch { case _: Throwable => killTree(h, force = true) }
    }
  }
}

object BatchJob {
  /** Spawn and own a new batch child process. */
  def launch(id: String, user: String, batchType: String, cmd: Seq[String],
      onTerminal: String => Unit): BatchJob =
    new BatchJob(id, user, batchType, Left(cmd), onTerminal)

  /** Adopt a live process from a previous server incarnation (found by
    * its `graft.batch.tag`) instead of double-submitting it.
    * `exitFile` is where that incarnation's launch wrapper records the
    * child's real exit code.
    */
  def attach(id: String, user: String, batchType: String, handle: ProcessHandle,
      onTerminal: String => Unit, exitFile: Option[Path] = None): BatchJob =
    new BatchJob(id, user, batchType, Right(handle), onTerminal, exitFile)
}

/** Staging helpers for uploaded batch resources. */
object BatchUpload {

  /** One decoded `multipart/form-data` part. */
  final case class Part(name: String, filename: Option[String], data: Array[Byte])

  private val CrLf = "\r\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Minimal RFC 7578 parser over the raw request body (the JDK
    * HttpServer has no multipart support). Splits on the boundary
    * delimiter, then each part into headers (ISO-8859-1 text up to the
    * blank line) and an EXACT byte payload — jar bytes must round-trip
    * unmangled, so nothing here goes through a String except headers.
    */
  def parseMultipart(body: Array[Byte], boundary: String): Seq[Part] = {
    val delim = ("--" + boundary).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def indexOf(target: Array[Byte], from: Int): Int = {
      var i = from
      while (i <= body.length - target.length) {
        var j = 0
        while (j < target.length && body(i + j) == target(j)) j += 1
        if (j == target.length) return i
        i += 1
      }
      -1
    }
    val parts = Seq.newBuilder[Part]
    var pos = indexOf(delim, 0)
    while (pos >= 0) {
      val afterDelim = pos + delim.length
      // closing delimiter is "--boundary--"
      if (afterDelim + 1 < body.length &&
          body(afterDelim) == '-' && body(afterDelim + 1) == '-') {
        pos = -1
      } else {
        val headerStart = afterDelim + CrLf.length
        val headerEnd = indexOf(CrLf ++ CrLf, headerStart)
        val next = indexOf(delim, if (headerEnd < 0) headerStart else headerEnd)
        if (headerEnd >= 0 && next > headerEnd) {
          val headers = new String(body, headerStart, headerEnd - headerStart,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          val nameRe = """name="([^"]*)"""".r
          val fileRe = """filename="([^"]*)"""".r
          val name = nameRe.findFirstMatchIn(headers).map(_.group(1))
          val filename = fileRe.findFirstMatchIn(headers).map(_.group(1))
          val dataStart = headerEnd + 2 * CrLf.length
          val dataEnd = next - CrLf.length // payload ends before \r\n--boundary
          if (name.isDefined && dataEnd >= dataStart)
            parts += Part(name.get, filename,
              java.util.Arrays.copyOfRange(body, dataStart, dataEnd))
        }
        pos = next
      }
    }
    parts.result()
  }

  /** Stage an uploaded resource under `<stagingDir>/<batchId>/` with
    * its client-sent filename (path components stripped — a crafted
    * `../../` filename must not escape the staging dir).
    */
  def stage(stagingDir: Path, batchId: String, filename: String,
      data: Array[Byte]): Path = {
    val safeName = java.nio.file.Paths.get(filename).getFileName.toString
    val dir = stagingDir.resolve(batchId)
    Files.createDirectories(dir)
    val target = dir.resolve(safeName)
    Files.write(target, data)
    target
  }
}
