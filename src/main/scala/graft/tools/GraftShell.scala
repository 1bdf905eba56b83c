package graft.tools

import graft.core.{Engine, EngineConfs, OperationState, ResultMode}

/** Minimal interactive/one-shot SQL front-end over the gateway Engine —
  * the stand-in for the reference's beeline-over-Thrift entry point.
  *
  * Usage:
  *   runMain graft.tools.GraftShell "<sql>" [--mode full|bounded|incremental]
  *
  * Registers the testdata parquet tables as temp views when
  * GRAFT_SF_DIR is set.
  */
object GraftShell {
  def main(args: Array[String]): Unit = {
    val sql = args.headOption.getOrElse {
      System.err.println("usage: GraftShell \"<sql>\" [--mode full|bounded|incremental]")
      sys.exit(2)
    }
    val mode = args.sliding(2).collectFirst {
      case Array("--mode", "bounded") => ResultMode.Bounded(20)
      case Array("--mode", "incremental") => ResultMode.Incremental
    }.getOrElse(ResultMode.Full)

    val spark = EngineConfs.session("graft-shell")
    spark.sparkContext.setLogLevel("WARN")

    val engine = new Engine(spark)
    val sess = engine.openSession(sys.props.getOrElse("user.name", "anonymous"))

    sys.env.get("GRAFT_SF_DIR").foreach { dir =>
      val t = graft.Tables(sess.spark, dir)
      Seq("region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
        "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
        "lineitem" -> t.lineitem, "events" -> t.events,
        "documents" -> t.documents, "embeddings" -> t.embeddings)
        .foreach { case (n, df) => df.createOrReplaceTempView(n) }
    }

    val op = sess.executeStatement(sql, mode)
    val state = op.awaitTermination()
    state match {
      case OperationState.Finished =>
        val schema = op.result.schema
        println(schema.fields.map(f =>
          s"${f.name}:${graft.core.SchemaMapper.toWireType(f.dataType)}").mkString(" | "))
        var n = 0
        val it = op.fetchIterator
        while (it.hasNext && n < 100) { println(it.next().toString); n += 1 }
        if (it.hasNext) println(s"... (first $n rows shown)")
        println(s"[graft] state=$state")
      case other =>
        println(s"[graft] state=$other" +
          op.exception.map(e => s" error=${e.getMessage.linesIterator.next()}").getOrElse(""))
        spark.stop()
        sys.exit(1)
    }
    spark.stop()
  }
}
