package gatebench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.core.ResultMode

/** Attempted and failed operations; a wrong result counts as failed. */
final class Tally {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val errors = new ConcurrentLinkedQueue[String]()

  def fail(what: String, why: String): Unit = {
    failed.incrementAndGet()
    if (errors.size < 20) errors.add(s"$what: $why")
  }

  /** Run `op`; None (and one failure) when it throws. */
  def attempt[A](what: String)(op: => A): Option[A] = {
    attempted.incrementAndGet()
    try Some(op) catch { case e: Throwable => fail(what, s"${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  /** Corrupt the next verified result (a check that the benchmark
    * itself catches a wrong row): one cell of its first row is nulled.
    */
  @volatile var injectWrongRow = false

  def verify(what: String, expected: Digest, got: Fetched): Boolean = {
    if (injectWrongRow && got.rows.nonEmpty) {
      injectWrongRow = false
      System.err.println(s"gatebench: injecting a wrong row into $what")
      val row = got.rows.head
      row.indices.find(row(_) != null) match {
        case Some(i) => row(i) = null
        case None => got.rows.remove(0)
      }
    }
    val d = got.digest
    if (d == expected) true else { fail(what, s"wrong result: got $d, want $expected"); false }
  }
}

/** What every workload shares: the run's session, data, clocks and
  * recorders. `e2e` holds untraced-grade samples by metric name,
  * `layer` the per-layer samples the clients record when traced.
  */
final class Ctx(val spark: SparkSession, val data: Data, val work: Path, val seed: Long,
    val tr: Tracer, val tally: Tally) {
  val e2e = new Meter
  val layer = new Meter
  // java.util.Random's first draws barely differ between adjacent
  // seeds, so the seed is scrambled first
  val rng = new Random(graft.sources.tpch.TpchGen.mix(seed))
  val jobs: Option[JobCounter] = if (tr.enabled) Some(new JobCounter) else None
  val phases: Option[PhaseLog] = if (tr.enabled) Some(new PhaseLog) else None
  /** (wire, op handle) of every measured statement, for the traced run. */
  val handles = new ConcurrentLinkedQueue[(String, String)]()
  private val stmtIds = new AtomicLong

  def stmtId(tag: String): String = s"$tag-${stmtIds.incrementAndGet()}"

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Loop `body` until `seconds` pass and at least `min` iterations ran;
    * a hard cap of three times the budget bounds a slow machine.
    */
  def loop(seconds: Double, min: Int)(body: Int => Unit): Int = {
    val start = System.nanoTime()
    val soft = start + (seconds * 1e9).toLong
    val hard = start + (seconds * 3e9).toLong
    var i = 0
    while ((System.nanoTime() < soft || i < min) && System.nanoTime() < hard) { body(i); i += 1 }
    i
  }
}

/** One traffic mix. A run sets the server up several times (timing each
  * bring-up), leaves the last one up, measures, then tears it down.
  */
abstract class Workload(val ctx: Ctx) {
  import ctx._

  /** Untimed preparation before any bring-up: reference results. */
  def prepare(): Unit

  /** Bring the server and this workload's client connections up. */
  def setUp(): Unit

  /** Bring up what starts once per run, after the repeated bring-ups
    * (the gateway and its engine JVM); counted into setup_s as is.
    */
  def setUpOnce(): Unit = ()

  /** Untimed warm-up on the last bring-up before measuring. */
  def warm(): Unit = ()

  def measure(seconds: Double): Unit

  /** Stop clients and servers; returns engine sessions left open. */
  def tearDown(): Int

  /** unit_s and first_row_s: one unit of this workload's work. */
  def unitS: Double
  def firstRowS: Double

  /** Workload-specific metrics under the names the layer map uses. */
  def detail: Map[String, Double]

  /** The in-process engine, when this workload runs one. */
  def server: Option[InProcServer]

  /** The `bench` tables this workload reads. */
  def tables: Seq[String]

  // --- shared pieces -------------------------------------------------------

  /** 1-client no-scan probe: submit → first row decoded. */
  protected def probe(wire: Wire, seconds: Double): Unit =
    loop(seconds, 20)(_ => probeOnce(wire, "probe_ms"))

  protected def probeOnce(wire: Wire, metric: String): Unit = {
    val k = rng.nextInt(1000000)
    val id = stmtId("probe")
    val t0 = System.nanoTime()
    tally.attempt(s"${wire.name} probe")(tr.span(s"${wire.name}.stmt", id)(wire.run(s"SELECT $k AS probe", id)))
      .foreach { f =>
        e2e.add(metric, ms(t0, f.firstRowNs))
        handles.add((wire.name, f.handle))
        tally.verify(s"${wire.name} probe", Digest.empty.add(Canon.rowHash(k.toString)), f)
      }
  }

  /** Time one statement on a wire; records fetch and first-row time. */
  protected def timed(wire: Wire, tag: String, sql: String, expected: Digest): Option[Fetched] = {
    val id = stmtId(tag)
    val t0 = System.nanoTime()
    val r = tally.attempt(s"${wire.name} $tag")(tr.span(s"${wire.name}.stmt", id)(wire.run(sql, id)))
    r.foreach { f =>
      e2e.add(s"$tag.${wire.name}.s", (f.doneNs - t0) / 1e9)
      e2e.add(s"$tag.${wire.name}.first_s", (f.firstRowNs - t0) / 1e9)
      if (f.handle != null) handles.add((wire.name, f.handle))
      tally.verify(s"${wire.name} $tag", expected, f)
    }
    r
  }

  protected def med(name: String): Double = e2e.median(name)

  /** The traced run's in-process core path: the benchmark itself calls
    * Engine.openSession, EngineSession.executeStatement,
    * Operation.awaitTermination and FetchIterator.fetchNext/take, and
    * plans the statement with spark.sql(..).queryExecution.
    */
  protected def corePath(sqls: Seq[(String, Digest)], seconds: Double): Unit = server.foreach { srv =>
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    loop(seconds, sqls.size) { i =>
      val (sql, expected) = sqls(i % sqls.size)
      val id = stmtId("core")
      tally.attempt("core statement")(tr.span("core.stmt", id) {
        val t0 = System.nanoTime()
        val sess = tr.span("core.openSession")(srv.engine.openSession(Wire.User))
        val t1 = System.nanoTime()
        layer.add("core.open_session_ms", ms(t0, t1))
        try {
          val op = tr.span("core.executeStatement")(sess.executeStatement(sql, ResultMode.Full))
          tr.span("core.awaitTermination")(op.awaitTermination())
          op.exception.foreach(throw _)
          handles.add(("core", op.handle))
          val it = op.fetchIterator
          val kinds = op.result.schema.fields.map(f => Kind.of(f.dataType)).toIndexedSeq
          var d = Digest.empty
          var more = true
          while (more) {
            val p0 = System.nanoTime()
            val page = tr.span("core.fetchPage") { it.fetchNext(); it.take(Wire.PageRows).toArray }
            if (page.length == Wire.PageRows) layer.add("core.page_ms", ms(p0, System.nanoTime()))
            page.foreach(r => d = d.add(Canon.rowHash(Canon.row(kinds, IndexedSeq.tabulate(r.length)(r.get)))))
            more = page.nonEmpty
          }
          if (d != expected) tally.fail("core statement", s"wrong result: got $d, want $expected")
          op.close()
        } finally srv.engine.closeSession(sess.id)
        val p0 = System.nanoTime()
        tr.span("spark.plan")(spark.sql(sql).queryExecution.executedPlan)
        layer.add("spark.plan_ms", ms(p0, System.nanoTime()))
      })
    }
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "interactive" => new Interactive(ctx)
    case "export" => new Export(ctx)
    case "analytic" => new Analytic(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Short statements (1-100 rows): phase A, one client probing the
  * in-process server, then the deployed hop (GatewayServer forwarding
  * to an EngineMain child) and that engine's own port; phase B, four
  * stock-JDBC clients in a closed loop, each reconnecting every 20
  * statements. Per-statement overhead dominates.
  */
final class Interactive(c: Ctx) extends Workload(c) {
  import ctx._
  private val clientCount = 4
  private var srv: InProcServer = _
  private var probeWire: ThriftWire = _
  private var gw: Gateway = _
  private var via: ThriftWire = _
  private var direct: ThriftWire = _
  private var launchS = 0.0
  private val pool = ArrayBuffer.empty[(String, String, Digest)]
  private val completed = new AtomicLong
  private var phaseBs = 0.0

  override def server: Option[InProcServer] = Option(srv)
  override def tables: Seq[String] = Seq("orders", "lineitem", "customer", "supplier", "nation")

  override def prepare(): Unit = {
    val keys = spark.sql(s"SELECT o_orderkey FROM bench.orders ORDER BY hash(o_orderkey, $seed) LIMIT 4")
      .collect().map(_.getLong(0))
    val days = spark.sql("SELECT min(l_shipdate), max(l_shipdate) FROM bench.lineitem").head()
    val d0 = days.getDate(0).toLocalDate
    val span = java.time.temporal.ChronoUnit.DAYS.between(d0, days.getDate(1).toLocalDate) - 60
    val segs = graft.sources.tpch.TpchGen.segments
    val stmts = keys.toSeq.map(k => "lookup" ->
      s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM bench.orders WHERE o_orderkey = $k") ++
      (1 to 4).map { _ =>
        val d = d0.plusDays(rng.nextInt(span.toInt max 1).toLong)
        "filtered_agg" -> (s"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty " +
          s"FROM bench.lineitem WHERE l_shipdate BETWEEN DATE '$d' AND DATE '${d.plusDays(30)}' " +
          "GROUP BY l_returnflag, l_linestatus")
      } ++
      (1 to 4).map { _ =>
        "top_n" -> (s"SELECT c_custkey, c_name, c_acctbal FROM bench.customer WHERE c_mktsegment = " +
          s"'${segs(rng.nextInt(segs.length))}' ORDER BY c_acctbal DESC, c_custkey LIMIT ${10 + rng.nextInt(91)}")
      } ++
      (1 to 4).map { _ =>
        "small_join" -> (s"SELECT n_name, count(*) AS suppliers, sum(s_acctbal) AS acctbal " +
          s"FROM bench.supplier JOIN bench.nation ON s_nationkey = n_nationkey " +
          s"WHERE n_regionkey = ${rng.nextInt(5)} GROUP BY n_name")
      }
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val refs = stmts.map { case (tag, sql) => scala.concurrent.Future((tag, sql, data.reference(sql))) }
    pool ++= refs.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
  }

  override def setUp(): Unit = {
    srv = new InProcServer(spark)
    probeWire = new ThriftWire(srv.thriftPort, arrow = false, tr, layer)
    probeWire.run("SELECT 1 AS probe", null)
    val w = new JdbcWire(srv.thriftPort, tr, layer)
    try w.run(pool.head._2, null) finally w.close()
  }

  private val templates = Seq("lookup", "filtered_agg", "top_n", "small_join")

  override def setUpOnce(): Unit = {
    gw = new Gateway(work)
    val t0 = System.nanoTime()
    via = new ThriftWire(gw.port, arrow = false, tr, layer, prefix = "gw.")
    launchS = (System.nanoTime() - t0) / 1e9
    direct = new ThriftWire(gw.enginePort(Wire.User), arrow = false, tr, layer, prefix = "engine.")
  }

  override def warm(): Unit = {
    loop(1.0, 0)(_ => Seq(probeWire, via, direct).foreach(_.run("SELECT 1 AS probe", null)))
    runClients(2.5, record = false)
  }

  override def measure(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    runClients(seconds * 0.75, record = true)
    phaseBs = (System.nanoTime() - t0) / 1e9
    loop(seconds * 0.25, 20) { _ =>
      probeOnce(probeWire, "probe_ms")
      probeOnce(via, "gw_probe_ms")
      probeOnce(direct, "engine_probe_ms")
    }
    if (tr.enabled) corePath(pool.groupBy(_._1).values.map(p => (p.head._2, p.head._3)).toSeq, 1.0)
  }

  /** Phase B: four JDBC clients in a closed loop for `seconds`. Each
    * client rotates through the templates (drawing the instance from
    * the seed) and reconnects every 20 statements.
    */
  private def runClients(seconds: Double, record: Boolean): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val byTemplate = pool.groupBy(_._1)
    val threads = (0 until clientCount).map { i =>
      val r = new Random(graft.sources.tpch.TpchGen.mix(seed, i))
      val t = new Thread(() => {
        var wire: JdbcWire = null
        var n = 0
        try while (System.nanoTime() < deadline) {
          if (n % 20 == 0) {
            if (wire != null) wire.close()
            wire = tally.attempt("jdbc connect")(new JdbcWire(srv.thriftPort, tr, layer)).orNull
          }
          if (wire != null) {
            val choices = byTemplate(templates((i + n) % templates.size))
            val (tag, sql, expected) = choices(r.nextInt(choices.size))
            val id = stmtId(tag)
            val s0 = System.nanoTime()
            tally.attempt(s"jdbc $tag")(tr.span("jdbc.stmt", id)(wire.run(sql, id))).foreach { f =>
              if (record) {
                e2e.add("stmt_ms", ms(s0, f.doneNs))
                e2e.add(s"first_ms.$tag", ms(s0, f.firstRowNs))
                if (f.handle != null) handles.add(("jdbc", f.handle))
              }
              if (tally.verify(s"jdbc $tag", expected, f) && record) completed.incrementAndGet()
            }
          }
          n += 1
        } finally if (wire != null) wire.close()
      }, s"gatebench-client-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  override def tearDown(): Int = {
    Seq(probeWire, via, direct).filter(_ != null).foreach(w => try w.close() catch { case _: Throwable => })
    if (gw != null) gw.stop()
    val open = srv.stopFrontends()
    srv.close()
    open
  }

  private def stmtsPerS = completed.get / phaseBs

  override def unitS: Double = 100.0 / stmtsPerS

  override def firstRowS: Double =
    Stats.mean(templates.map(t => med(s"first_ms.$t"))) / 1000

  override def detail: Map[String, Double] = {
    val n = e2e.count("stmt_ms")
    Map("stmts_per_s" -> stmtsPerS, "stmt_ms.p50" -> med("stmt_ms"),
      "gateway.probe_ms.p50" -> med("gw_probe_ms"), "gateway.engine_probe_ms.p50" -> med("engine_probe_ms"),
      "gateway.forward_ms" -> (med("gw_probe_ms") - med("engine_probe_ms")),
      "gateway.engine_launch_s" -> launchS,
      "stmt_ms.p99" -> Stats.percentile(e2e.values("stmt_ms"), Stats.tailPercentile(n).map(_.toDouble).getOrElse(90.0)),
      "stmt_count" -> n.toDouble)
  }
}

/** One client at a time fetches the same ~12.5k-row mixed-type result
  * over each wire, 10k-row pages everywhere. Materialization, encoding,
  * transfer and client decoding dominate.
  */
final class Export(c: Ctx) extends Workload(c) {
  import ctx._
  private var srv: InProcServer = _
  private var wires: Seq[Wire] = Nil
  private var sql: String = _
  private var expected: Digest = _
  private var heapMb = 0.0
  val wireNames = Seq("thrift", "arrow", "jdbc", "rest", "trino")

  override def server: Option[InProcServer] = Option(srv)
  override def tables: Seq[String] = Seq("lineitem")

  override def prepare(): Unit = {
    sql = data.exportSql("bench.lineitem", rng.nextInt(16))
    expected = data.reference(sql)
  }

  override def setUp(): Unit = {
    srv = new InProcServer(spark)
    val p = srv.thriftPort
    wires = Seq(new ThriftWire(p, arrow = false, tr, layer), new ThriftWire(p, arrow = true, tr, layer),
      new JdbcWire(p, tr, layer), new RestWire(srv.restPort, tr, layer), new TrinoWire(srv.restPort, tr, layer))
    wires.foreach(_.run("SELECT 1 AS probe", null))
  }

  /** Rounds until the JIT settles: early rounds run up to twice as slow. */
  override def warm(): Unit = loop(5.0, 2)(_ => wires.foreach(_.run(sql, null)))

  override def measure(seconds: Double): Unit = {
    loop(seconds * 0.85, 3) { _ =>
      rng.shuffle(wires).foreach { w =>
        val jobs0 = jobs.map(_.forGroup("none").map(_.jobs.sum).getOrElse(0L))
        timed(w, "export", sql, expected)
        if (w.name == "rest") for (j0 <- jobs0; j <- jobs) {
          val pages = math.ceil(expected.rows.toDouble / Wire.PageRows) + (if (expected.rows % Wire.PageRows == 0) 1 else 0)
          layer.add("rest.jobs_per_page", (j.forGroup("none").map(_.jobs.sum).getOrElse(0L) - j0) / pages)
        }
      }
    }
    // start the probes from a collected heap: the rounds leave a varying
    // amount of garbage behind
    System.gc()
    probe(wires.head, seconds * 0.15)

    if (tr.enabled) {
      corePath(Seq(sql -> expected), 0.5)
      heapMb = resultHeapMb()
    }
  }

  /** Heap the engine retains while one export result is open (after a
    * full GC), minus the idle baseline.
    */
  private def resultHeapMb(): Double = {
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val sess = srv.engine.openSession(Wire.User)
    try {
      val idle = Jvm.heapAfterGcMb
      val op = sess.executeStatement(sql, ResultMode.Full)
      op.awaitTermination()
      val held = Jvm.heapAfterGcMb
      op.close()
      held - idle
    } finally srv.engine.closeSession(sess.id)
  }

  override def tearDown(): Int = {
    wires.foreach(w => try w.close() catch { case _: Throwable => })
    val open = srv.stopFrontends()
    srv.close()
    open
  }

  override def unitS: Double = wireNames.map(w => med(s"export.$w.s")).sum
  override def firstRowS: Double = wireNames.map(w => med(s"export.$w.first_s")).sum

  override def detail: Map[String, Double] =
    wireNames.map(w => s"fetch_s.$w" -> med(s"export.$w.s")).toMap ++ Map(
      "first_row_ms" -> med("export.thrift.first_s") * 1000,
      "result_heap_mb" -> heapMb,
      "rounds" -> e2e.count("export.thrift.s").toDouble)
}

/** The 22 TPC-H reads through hive-jdbc, one client, beside three
  * writes (a CTAS, an INSERT OVERWRITE into a partitioned table, and an
  * insert into a z-ordered table). Spark execution dominates.
  */
final class Analytic(c: Ctx) extends Workload(c) {
  import ctx._
  private final case class Write(name: String, table: String, sql: String, expected: Digest)
  private var srv: InProcServer = _
  private var wire: JdbcWire = _
  private val reads = ArrayBuffer.empty[(String, String, Digest)]
  private val writes = ArrayBuffer.empty[Write]

  override def server: Option[InProcServer] = Option(srv)
  override def tables: Seq[String] = data.tables

  override def prepare(): Unit = {
    reads ++= graft.queries.TpchCorpusSql.queries("bench").map { case (q, sql) => (q, sql, data.reference(sql)) }
    val d = Seq.fill(3)(java.time.LocalDate.of(1993, 1, 1).plusDays(rng.nextInt(5 * 365).toLong))
    spark.sql("CREATE TABLE bench.w_part (l_orderkey BIGINT, l_quantity DECIMAL(12,2), l_shipmode STRING) " +
      "USING parquet PARTITIONED BY (l_shipmode)")
    spark.sql("CREATE TABLE bench.w_zorder (l_partkey BIGINT, l_suppkey BIGINT, l_extendedprice DECIMAL(12,2)) " +
      "USING parquet")
    val ctasSel = "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority " +
      s"FROM bench.orders WHERE o_orderdate >= DATE '${d(0)}'"
    val partSel = s"SELECT l_orderkey, l_quantity, l_shipmode FROM bench.lineitem WHERE l_shipdate >= DATE '${d(1)}'"
    val zSel = s"SELECT l_partkey, l_suppkey, l_extendedprice FROM bench.lineitem WHERE l_shipdate < DATE '${d(2)}'"
    writes += Write("ctas", "bench.w_ctas", s"CREATE TABLE bench.w_ctas USING parquet AS $ctasSel",
      data.reference(ctasSel))
    writes += Write("insert_partitioned", "bench.w_part", s"INSERT OVERWRITE TABLE bench.w_part $partSel",
      data.reference(partSel))
    writes += Write("insert_zorder", "bench.w_zorder", s"INSERT OVERWRITE TABLE bench.w_zorder $zSel",
      data.reference(zSel))
  }

  override def setUp(): Unit = {
    srv = new InProcServer(spark)
    wire = new JdbcWire(srv.thriftPort, tr, layer)
    wire.run("SET spark.graft.zorder.cols.w_zorder=l_partkey,l_suppkey", null)
    wire.run(reads.head._2, null)
  }

  override def measure(seconds: Double): Unit = {
    val probeWire = new ThriftWire(srv.thriftPort, arrow = false, tr, layer)
    try probe(probeWire, seconds * 0.1) finally probeWire.close()
    loop(seconds * 0.9, 3)(_ => pass())
    if (tr.enabled) corePath(reads.take(3).map(r => (r._2, r._3)).toSeq, 0.5)
  }

  /** All reads and writes once, in a seeded order. Each write is read
    * back in process and checked against the reference of its query.
    */
  private def pass(): Unit = {
    val items: Seq[Either[(String, String, Digest), Write]] = reads.map(Left(_)).toSeq ++ writes.map(Right(_)).toSeq
    rng.shuffle(items).foreach {
      case Left((q, sql, expected)) => timed(wire, q, sql, expected)
      case Right(w) =>
        if (w.name == "ctas") wire.run(s"DROP TABLE IF EXISTS ${w.table}", null)
        val id = stmtId(w.name)
        val t0 = System.nanoTime()
        tally.attempt(s"jdbc ${w.name}")(tr.span("jdbc.stmt", id)(wire.run(w.sql, id))).foreach { f =>
          e2e.add(s"${w.name}.jdbc.s", (f.doneNs - t0) / 1e9)
          if (f.handle != null) handles.add(("write", f.handle))
          spark.catalog.refreshTable(w.table)
          val df = spark.table(w.table)
          val kinds = df.schema.fields.map(x => Kind.of(x.dataType)).toIndexedSeq
          val got = Digest.of(kinds, df.collect().iterator.map(r => IndexedSeq.tabulate(r.length)(r.get)))
          if (got != w.expected) tally.fail(s"jdbc ${w.name}", s"read back $got, want ${w.expected}")
          if (tr.enabled)
            layer.add("spark.files_written_per_write", df.inputFiles.length.toDouble)
        }
    }
  }

  override def tearDown(): Int = {
    wire.close()
    val open = srv.stopFrontends()
    srv.close()
    open
  }

  private def querySum = reads.map(r => med(s"${r._1}.jdbc.s")).sum
  private def writeSum = writes.map(w => med(s"${w.name}.jdbc.s")).sum

  override def unitS: Double = querySum + writeSum
  override def firstRowS: Double = reads.map(r => med(s"${r._1}.jdbc.first_s")).sum + writeSum

  override def detail: Map[String, Double] =
    Map("query_s" -> querySum, "write_s" -> writeSum, "passes" -> e2e.count("q1.jdbc.s").toDouble)
}
