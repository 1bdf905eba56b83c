package graft.tools

import graft.queries.{TpcdsCorpusSql, TpchCorpusSql}

/** Dev helper: regenerate the CorpusGoldenSpec table — runs every
  * corpus query on the tiny generator catalogs and prints the golden
  * `(sum(hash(*)), count)` map entries to paste into the spec.
  */
object GoldenDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.EngineConfs.session("graft-goldendump")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.catalog.tpch", classOf[graft.sources.tpch.TpchCatalog].getName)
    spark.conf.set("spark.sql.catalog.tpcds", classOf[graft.sources.tpcds.TpcdsCatalog].getName)
    val schemaMode = args.contains("--schema")
    val only = args.toSet - "--schema"
    val all =
      TpchCorpusSql.queries("tpch.tiny").map { case (n, q) => (s"tpch_$n", q) } ++
        TpcdsCorpusSql.queries("tpcds.tiny").map { case (n, q) => (s"tpcds_$n", q) }
    all.filter(x => only.isEmpty || only(x._1)).foreach { case (name, sql) =>
      try {
        if (schemaMode) {
          // output-schema goldens (analysis only — nothing runs): the
          // `name|col:type,col:type` lines checked in as the resource
          // ThriftCorpusSpec replays over the wire
          val cols = spark.sql(sql).schema.fields
            .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(";")
          println(s"SCHEMA $name|$cols")
        } else {
          val h = spark.sql(sql).selectExpr("sum(hash(*)) AS h", "count(*) AS n").head()
          val hv = if (h.isNullAt(0)) 0L else h.getLong(0)
          println("GOLDEN    \"" + name + "\" -> ((" + hv + "L, " + h.getLong(1) + "L)),")
        }
      } catch {
        case e: Throwable =>
          println(s"GOLDENERR $name: ${e.getMessage.linesIterator.take(3).mkString(" | ")}")
      }
    }
    spark.stop()
  }
}
