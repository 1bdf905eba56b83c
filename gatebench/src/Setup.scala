package gatebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{Engine, EngineConfs}
import graft.server.{EngineProcBuilder, GatewayServer, RestFrontend, ThriftFrontend}

/** The benchmark's data: TPC-H from the repo's own generator, written
  * to parquet under `root` and registered as `bench.<table>` in the
  * shared session catalog. The generator is deterministic, so a
  * complete copy from an earlier run of the same checkout is reused.
  */
final class Data(spark: SparkSession, root: Path, val scale: String) {
  val tables: Seq[String] =
    Seq("region", "nation", "supplier", "customer", "part", "partsupp", "orders", "lineitem")

  private val dir = root.resolve(s"tpch-$scale")

  def path(t: String): Path = dir.resolve(t)

  /** Write the tables unless a complete copy exists; true if written. */
  def ensureFiles(): Boolean = {
    val written = !Files.exists(dir.resolve("_complete"))
    if (written) {
      val tmp = root.resolve(s"tpch-$scale.tmp-${ProcessHandle.current.pid}")
      spark.conf.set("spark.sql.catalog.tpch", classOf[graft.sources.tpch.TpchCatalog].getName)
      tables.foreach(t => spark.table(s"tpch.$scale.$t").write.parquet(tmp.resolve(t).toString))
      Files.writeString(tmp.resolve("_complete"), scale)
      try Files.move(tmp, dir) catch { case _: java.nio.file.FileAlreadyExistsException => }
    }
    written
  }

  /** Register `names` as `bench.<table>` in the session catalog. */
  def register(names: Seq[String]): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS bench")
    names.foreach(t => spark.catalog.createTable(s"bench.$t", "parquet",
      graft.sources.tpch.TpchGen.schemas(t), Map("path" -> path(t).toString)))
  }

  /** Reference result of `sql`, computed in process on the root session.
    * Digests are kept beside the data: the data and this checkout's
    * engine are fixed, so a later run of the same statement reuses it.
    */
  def reference(sql: String): Digest = {
    val key = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"$scale\n$sql".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val file = root.resolve("refs").resolve(key)
    if (Files.exists(file)) {
      val Array(n, sum, xor) = Files.readString(file).trim.split(" ")
      Digest(n.toLong, java.lang.Long.parseUnsignedLong(sum, 16), java.lang.Long.parseUnsignedLong(xor, 16))
    } else {
      val df = spark.sql(sql)
      val kinds = df.schema.fields.map(f => Kind.of(f.dataType)).toIndexedSeq
      val d = Digest.of(kinds, df.collect().iterator.map(r => IndexedSeq.tabulate(r.length)(r.get)))
      Files.createDirectories(file.getParent)
      val tmp = Files.createTempFile(file.getParent, key, ".tmp")
      Files.writeString(tmp, f"${d.rows} ${d.sum}%016x ${d.xor}%016x")
      Files.move(tmp, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      d
    }
  }

  /** The export result from table `src`: a sixteenth of lineitem
    * (~12.5k rows at the full scale, the residue drawn from the seed) in
    * mixed types (bigint, int, double, string with nulls, timestamp).
    */
  def exportSql(src: String, residue: Int): String =
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST(l_extendedprice AS DOUBLE) * (1 - CAST(l_discount AS DOUBLE)) AS net,
       |  CASE WHEN l_linenumber = 7 THEN NULL ELSE l_comment END AS note,
       |  timestamp_seconds(unix_date(l_shipdate) * 86400L + l_linenumber * 3600L + l_suppkey % 60) AS shipped_at
       |FROM $src WHERE pmod(l_orderkey, 16) = $residue""".stripMargin
}

/** The in-process server: an [[Engine]] over the root session with the
  * binary Thrift and REST/Trino frontends on loopback.
  */
final class InProcServer(spark: SparkSession) {
  val engine = new Engine(spark)
  val thrift: ThriftFrontend = new ThriftFrontend(engine).start()
  private val rest = new RestFrontend(engine)
  val restPort: Int = rest.start()
  def thriftPort: Int = thrift.boundPort

  /** Stop the frontends; returns the engine sessions still open. */
  def stopFrontends(): Int = {
    thrift.stop()
    rest.stop()
    engine.openSessionCount
  }

  def close(): Unit = engine.close()
}

/** GatewayServer in its deployed shape: each user's engine is an
  * [[graft.server.EngineMain]] child JVM found through a file registry.
  */
final class Gateway(work: Path) {
  private val registry = Files.createDirectories(work.resolve("registry"))
  val server: GatewayServer = new GatewayServer(new EngineProcBuilder(registry)).start()
  def port: Int = server.boundPort

  /** host:port of the user's engine once it registered. */
  def enginePort(user: String): Int = {
    val addr = new graft.core.FileDiscoveryClient(registry).getAll(s"user/$user").headOption
      .getOrElse(throw new IllegalStateException(s"no engine registered for $user"))
    addr.split(":").last.toInt
  }

  def stop(): Unit = server.stop()
}

object Spark {
  /** The root session the in-process server serves: graft's extension,
    * the engine's tuned confs, one task slot per core.
    */
  def start(work: Path, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("gatebench")
      .config("spark.sql.extensions", classOf[graft.plans.GraftSparkExtension].getName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
    val s = EngineConfs(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** JVM-wide counters taken from outside the program. */
object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  // Spark's and Scala's shared cached pools: they grow with load and
  // idle out on their own, so they are not counted as leaks.
  private val sharedPools = Seq("Executor task launch worker", "ResultQueryStageExecution",
    "broadcast-exchange", "shuffle-exchange", "subquery-", "dynamicpruning-",
    "scala-execution-context-global", "ForkJoinPool", "block-manager-", "QueryStageCreator",
    "process reaper",
    // the benchmark's own HTTP clients
    "HttpClient-")

  /** Live threads, less the shared pools. */
  def threads: Set[Thread] = Thread.getAllStackTraces.keySet.asScala.toSet
    .filter(t => t.isAlive && !sharedPools.exists(t.getName.startsWith))

  /** Heap in use after full collections, in MB. */
  def heapAfterGcMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 2).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
