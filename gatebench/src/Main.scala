package gatebench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1`.
  *
  * The last stdout line is the result: end-to-end metrics when
  * untraced, per-layer metrics when traced. A fuller report (and, when
  * traced, the spans) goes to `.bench_out/` under the working directory.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      tiny: Boolean, work: Path, injectWrongRow: Boolean)


  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("scale").contains("tiny"), Paths.get(m.getOrElse("work", ".bench_work/run")).toAbsolutePath,
      m.get("inject-wrong-row").contains("1"))
  }

  /** The end-to-end metrics, in output order, with units. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "unit_s" -> "s")

  /** The per-layer metrics, in output order, with units. */
  val perLayer: Seq[(String, String)] = Seq(
    "thrift.open_session_ms" -> "ms", "thrift.execute_rpc_ms" -> "ms",
    "thrift.status_calls_per_stmt" -> "count", "thrift.fetch_rpc_ms" -> "ms",
    "thrift.bytes_per_row" -> "B", "thrift.decode_ms" -> "ms",
    "arrow.fetch_rpc_ms" -> "ms", "arrow.bytes_per_row" -> "B", "arrow.decode_ms" -> "ms",
    "jdbc.iterate_s" -> "s",
    "rest.page_ms" -> "ms", "rest.jobs_per_page" -> "count", "rest.bytes_per_row" -> "B",
    "trino.polls_per_stmt" -> "count", "trino.final_doc_ms" -> "ms",
    "gateway.engine_launch_s" -> "s", "gateway.forward_ms" -> "ms", "gateway.probe_ms.p50" -> "ms",
    "core.open_session_ms" -> "ms", "core.queue_ms" -> "ms", "core.compile_ms" -> "ms",
    "core.materialize_ms" -> "ms", "core.page_ms" -> "ms", "core.sessions_open_after" -> "count",
    "core.result_heap_mb" -> "MB",
    "spark.plan_ms" -> "ms", "spark.jobs_per_stmt" -> "count", "spark.tasks_per_stmt" -> "count",
    "spark.exec_ms" -> "ms", "spark.shuffle_bytes_per_stmt" -> "B", "spark.spill_bytes" -> "B",
    "jvm.gc_ms.setup" -> "ms", "jvm.gc_ms.measure" -> "ms", "jvm.heap_after_mb" -> "MB",
    "jvm.threads_leaked" -> "count",
    "probe_ms.p50" -> "ms", "first_row_s" -> "s", "probe_ms.p95" -> "ms", "stmt_ms.p50" -> "ms", "stmt_ms.p99" -> "ms", "stmts_per_s" -> "1/s",
    "fetch_s.thrift" -> "s", "fetch_s.arrow" -> "s", "fetch_s.jdbc" -> "s", "fetch_s.rest" -> "s",
    "fetch_s.trino" -> "s", "first_row_ms" -> "ms")

  /** Bring-ups per run; setup_s takes their median. */
  val SetupCycles = 3

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case e: Throwable =>
        e.printStackTrace()
        4
    }
    System.out.flush()
    System.err.flush()
    // explicit exit: a thread some component leaked must not hang the run
    Runtime.getRuntime.halt(code)
  }

  def run(a: Args): Int = {
    Files.createDirectories(a.work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Spark.start(a.work, cores)
    // process start → root session ready
    val readyS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val data = new Data(spark, Paths.get(".bench_data").toAbsolutePath, if (a.tiny) "sf0_002" else "sf0_0333")
    val tr = new Tracer(a.trace)
    val tally = new Tally
    tally.injectWrongRow = a.injectWrongRow
    val ctx = new Ctx(spark, data, a.work, a.seed, tr, tally)
    val wl = Workload(a.workload, ctx)
    val g0 = System.nanoTime()
    data.ensureFiles()
    data.register(wl.tables)
    ctx.jobs.foreach(spark.sparkContext.addSparkListener)
    val datagenS = (System.nanoTime() - g0) / 1e9
    ctx.phases.foreach(graft.core.Events.register)
    val p0 = System.nanoTime()
    wl.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9

    val threadsBefore = Jvm.threads
    val gcSetup0 = Jvm.gcMs
    val cycles = (1 to SetupCycles).map { i =>
      val t0 = System.nanoTime()
      wl.setUp()
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupCycles) wl.tearDown()
      s
    }
    val o0 = System.nanoTime()
    wl.setUpOnce()
    val onceS = (System.nanoTime() - o0) / 1e9
    val gcSetup = Jvm.gcMs - gcSetup0
    val w0 = System.nanoTime()
    wl.warm()
    val warmS = (System.nanoTime() - w0) / 1e9
    val gcMeasure0 = Jvm.gcMs
    wl.measure(a.seconds)
    val gcMeasure = Jvm.gcMs - gcMeasure0
    val heapAfter = if (a.trace) Jvm.heapAfterGcMb else 0.0
    val sessionsOpen = wl.tearDown()
    Thread.sleep(300)
    val leaked = (Jvm.threads -- threadsBefore).toSeq
    leaked.sortBy(_.getName).foreach { t =>
      System.err.println(s"gatebench: thread outlived teardown: ${t.getName} at " +
        t.getStackTrace.take(4).mkString(" < "))
    }
    ctx.jobs.foreach(_ => org.apache.spark.ListenerDrain(spark.sparkContext))

    val e = ctx.e2e
    val probes = e.values("probe_ms")
    val e2e: Map[String, Double] = Map(
      "setup_s" -> (readyS + Stats.median(cycles) + onceS),
      "unit_s" -> wl.unitS)
    // measured on every run but not gated: their run-to-run spread on a
    // shared 4-vCPU host reaches the largest bound BENCHMARK.json allows
    val watched = Map("probe_ms.p50" -> Stats.median(probes), "first_row_s" -> wl.firstRowS)
    val detail = wl.detail ++ watched ++ Map("probe_ms.p95" -> Stats.percentile(probes, 95),
      "probe_count" -> probes.size.toDouble, "ready_s" -> readyS, "setup_once_s" -> onceS, "data_s" -> datagenS,
      "prepare_s" -> prepareS, "warm_s" -> warmS) ++
      cycles.zipWithIndex.map { case (s, i) => s"setup_cycle_s.${i + 1}" -> s }
    val layers = if (a.trace)
      Layers.compute(ctx, detail, sessionsOpen, leaked.size, gcSetup, gcMeasure, heapAfter) else Map.empty[String, Double]

    val bad = (e2e ++ watched).filter { case (_, v) => v.isNaN || v.isInfinite || v <= 0 }
    bad.keys.foreach(k => tally.fail("metric", s"$k was not measured"))
    val correct = tally.failed.get == 0 && tally.attempted.get > 0
    tally.errors.asScala.foreach(err => System.err.println(s"gatebench: FAILED $err"))

    val out = Paths.get(".bench_out").toAbsolutePath
    Files.createDirectories(out)
    val tag = s"${a.workload}-seed${a.seed}"
    val untracedFile = out.resolve(s"$tag-e2e.json")
    val report = Seq("workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds), "traced" -> a.trace.toString, "cores" -> cores.toString,
      "scale" -> Json.str(data.scale), "correct" -> correct.toString,
      "attempted" -> tally.attempted.get.toString, "failed" -> tally.failed.get.toString,
      "end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "detail" -> Json.obj(detail.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "samples" -> Json.obj(e.names.map(k => k -> e.values(k).map(Json.num).mkString("[", ", ", "]"))))
    if (!a.trace) Files.writeString(untracedFile, Json.obj(report))
    else {
      val spans = out.resolve(s"$tag-spans.jsonl")
      tr.writeJsonl(spans)
      // against the untraced run of the same seed, else the latest one
      val base = Option(untracedFile).filter(Files.exists(_)).orElse {
        val all = Files.list(out).iterator.asScala.filter { f =>
          val n = f.getFileName.toString
          n.startsWith(s"${a.workload}-seed") && n.endsWith("-e2e.json")
        }.toSeq
        if (all.isEmpty) None else Some(all.maxBy(Files.getLastModifiedTime(_)))
      }
      val overhead = base.map { f =>
        val untraced = Json.parse(Files.readString(f))
        (e2e ++ watched).toSeq.sortBy(_._1).map { case (k, v) =>
          val u = if (e2e.contains(k)) untraced.get("end_to_end") else untraced.get("detail")
          k -> Json.num(v / u.get(k).asDouble - 1)
        }
      }
      val extra = Seq("per_layer" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "self_ms" -> Json.obj(tr.selfTimesMs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
        "spans" -> Json.str(spans.getFileName.toString)) ++
        overhead.map(o => "tracing_overhead" -> Json.obj(o)).toSeq
      Files.writeString(out.resolve(s"$tag-trace.json"), Json.obj(report ++ extra))
      overhead.foreach(o => System.err.println(
        "gatebench: tracing overhead " + o.map { case (k, v) => s"$k=$v" }.mkString(" ")))
    }

    val metrics = if (a.trace) perLayer.map { case (k, u) => k -> (layers.getOrElse(k, 0.0), u) }
      else endToEnd.map { case (k, u) => k -> (e2e(k), u) }
    val body = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: " + Json.obj(Seq("value" -> Json.num(if (v.isNaN) 0.0 else v), "unit" -> Json.str(u)))
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${tally.attempted.get}, "failed": ${tally.failed.get}, "metrics": {$body}}""")
    if (correct) 0 else 1
  }
}

/** Per-layer numbers of a traced run, derived from the client samples,
  * the program's phase stamps and the per-job-group Spark counts.
  */
object Layers {
  def compute(ctx: Ctx, detail: Map[String, Double], sessionsOpen: Int, threadsLeaked: Int,
      gcSetup: Long, gcMeasure: Long, heapAfter: Double): Map[String, Double] = {
    val m = ctx.layer
    def med(k: String) = if (m.count(k) > 0) m.median(k) else 0.0
    def mean(k: String) = Stats.mean(m.values(k))
    val handles = ctx.handles.asScala.toSeq
    val ops = handles.map(_._2).distinct
    // the phase stamps also go to the span file, moved onto the spans' clock
    val epochToNanoNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    for (p <- ctx.phases; h <- ops;
         (name, from, to) <- Seq(("core.queue", "PENDING", "RUNNING"),
           ("core.compile", "RUNNING", "COMPILED"), ("core.materialize", "COMPILED", "FINISHED"));
         (a, b) <- p.interval(h, from, to)) {
      m.add(s"${name}_ms", (b - a).toDouble)
      ctx.tr.record(name, h, 0L, a * 1000000L + epochToNanoNs, b * 1000000L + epochToNanoNs)
    }
    for (j <- ctx.jobs; (wire, h) <- handles.distinct; g <- j.opGroup(h)) {
      m.add("spark.jobs", g.jobs.sum.toDouble)
      m.add("spark.tasks", g.tasks.sum.toDouble)
      m.add("spark.exec_ms", g.jobMs.sum.toDouble)
      m.add("spark.shuffle_bytes", g.shuffleBytes.sum.toDouble)
      m.add("spark.spill", g.spillBytes.sum.toDouble)
      if (wire == "write") m.add("spark.bytes_written", g.bytesWritten.sum.toDouble)
    }
    val stmts = math.max(1, ctx.jobs.map(_ => handles.map(_._2).distinct.size).getOrElse(1))
    Map(
      "thrift.open_session_ms" -> med("thrift.rpc.OpenSession"),
      "thrift.execute_rpc_ms" ->
        (if (m.count("jdbc.rpc.ExecuteStatement") > 0) med("jdbc.rpc.ExecuteStatement")
        else med("thrift.rpc.ExecuteStatement")),
      "thrift.status_calls_per_stmt" -> mean("jdbc.status_calls"),
      "thrift.fetch_rpc_ms" -> med("thrift.rpc.FetchResults"),
      "thrift.bytes_per_row" -> med("thrift.bytes_per_row"),
      "thrift.decode_ms" -> med("thrift.decode"),
      "arrow.fetch_rpc_ms" -> med("arrow.rpc.FetchResults"),
      "arrow.bytes_per_row" -> med("arrow.bytes_per_row"),
      "arrow.decode_ms" -> med("arrow.decode"),
      "jdbc.iterate_s" -> med("jdbc.iterate_ms") / 1000,
      "rest.page_ms" -> med("rest.page_ms"),
      "rest.jobs_per_page" -> mean("rest.jobs_per_page"),
      "rest.bytes_per_row" -> med("rest.bytes_per_row"),
      "trino.polls_per_stmt" -> mean("trino.polls"),
      "trino.final_doc_ms" -> med("trino.final_doc_ms"),
      "core.open_session_ms" -> med("core.open_session_ms"),
      "core.queue_ms" -> med("core.queue_ms"),
      "core.compile_ms" -> med("core.compile_ms"),
      "core.materialize_ms" -> med("core.materialize_ms"),
      "core.page_ms" -> med("core.page_ms"),
      "core.sessions_open_after" -> sessionsOpen.toDouble,
      "core.result_heap_mb" -> detail.getOrElse("result_heap_mb", 0.0),
      "spark.plan_ms" -> med("spark.plan_ms"),
      "spark.jobs_per_stmt" -> m.sum("spark.jobs") / stmts,
      "spark.tasks_per_stmt" -> m.sum("spark.tasks") / stmts,
      "spark.exec_ms" -> med("spark.exec_ms"),
      "spark.shuffle_bytes_per_stmt" -> m.sum("spark.shuffle_bytes") / stmts,
      "spark.spill_bytes" -> m.sum("spark.spill"),
      // analytic only (not in BENCHMARK.json): its writes
      "spark.files_written_per_write" -> mean("spark.files_written_per_write"),
      "spark.bytes_written_per_write" -> mean("spark.bytes_written"),
      "jvm.gc_ms.setup" -> gcSetup.toDouble,
      "jvm.gc_ms.measure" -> gcMeasure.toDouble,
      "jvm.heap_after_mb" -> heapAfter,
      "jvm.threads_leaked" -> threadsLeaked.toDouble) ++
      Seq("gateway.engine_launch_s", "gateway.forward_ms", "gateway.probe_ms.p50",
        "probe_ms.p50", "first_row_s", "probe_ms.p95", "stmt_ms.p50", "stmt_ms.p99",
        "stmts_per_s", "fetch_s.thrift", "fetch_s.arrow", "fetch_s.jdbc", "fetch_s.rest", "fetch_s.trino",
        "first_row_ms", "query_s", "write_s").flatMap(k => detail.get(k).map(k -> _))
  }
}
