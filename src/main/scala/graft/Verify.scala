package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.{EngineConfs, Json}
import graft.queries.TpchCatalogQueries

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also dumps the gate-namespace generator-catalog tables to
  * `<outDir>/tpch_aux/` and substitutes that absolute path for the
  * `__AUX__` placeholder in oracle SQL, so DuckDB can independently
  * re-compute the 8 partsupp/commitdate TPC-H queries over the same
  * inputs (see TpchCatalogQueries).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev filter: comma-separated query names (driver passes 2 args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = EngineConfs.session("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A query that throws must NOT silently vanish from the gate (round 7
    // shipped "95/95 green" with the 4 regressed queries simply absent,
    // because a missing result dir is invisible to the driver's compare).
    // On failure, write a one-row result whose schema/hash can never match
    // the oracle — the gate then shows an explicit red entry — and exit
    // non-zero so the driver's rc records the round as broken.
    var failures = List.empty[String]
    // The 206 coalesce(1) dumps are independent single-task jobs whose
    // cost is dominated by per-job round-trip latency, not compute —
    // overlap them on a small driver pool (guide §2.6; r17 VERDICT #9).
    // Each worker runs on its OWN session clone: SketchRegistry
    // ownership is per-session, so release(sess) after each query frees
    // exactly that worker's sketches and can never unpersist a sibling
    // query's in-flight frames. Results are byte-identical to the
    // sequential loop (each query still computes from the parquet
    // fixtures on its own session); only the schedule changes.
    val toRun = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach(toRun.add)
    val nThreads = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    val failLock = new Object
    def worker(): Unit = {
      val sess = spark.newSession()
      var item = toRun.poll()
      while (item != null) {
        val (name, fn) = item
        try fn(sess, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failLock.synchronized { failures ::= name }
          System.err.println(s"[verify] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          import sess.implicits._
          Seq(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
            .toDF("__verify_error__").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        }
        // free the query's tracked sketch caches (see Bench) — scoped
        // to this worker's session
        graft.operators.SketchRegistry.release(sess)
        item = toRun.poll()
      }
    }
    if (nThreads == 1) worker()
    else {
      val threads = (1 to nThreads).map(i =>
        new Thread(() => worker(), s"verify-worker-$i"))
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    // Aux dumps live in a SIBLING of outDir, not inside it: the driver
    // enumerates every outDir subdirectory as a query result, so in-tree
    // aux dirs surfaced as bogus gate entries (tpch_aux "no_oracle";
    // vec_aux errored its pandas compare on array columns in r03). The
    // oracle SQL references these by absolute path, so location is free.
    val auxRoot = Paths.get(outDir + "_aux").toAbsolutePath.normalize
    val auxDir = auxRoot.resolve("tpch_aux")
    try {
      TpchCatalogQueries.register(spark)
      TpchCatalogQueries.auxTables.foreach { t =>
        spark.table(s"tpch.${TpchCatalogQueries.gateNamespace}.$t")
          .coalesce(1).write.mode("overwrite")
          .parquet(auxDir.resolve(s"$t.parquet").toString)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] tpch_aux dump failed: ${e.getMessage}")
    }
    // Vector-index artifacts (hyperplane family, trained IVF centroids)
    // so DuckDB can recompute the LSH/IVF paths independently.
    val vecAuxDir = auxRoot.resolve("vec_aux")
    try {
      import spark.implicits._
      import graft.queries.VectorQueries._
      graft.functions.VectorFunctions.hyperplanes(DIM, N_PLANES, SEED)
        .zipWithIndex.map { case (p, i) => (i, p.toSeq) }.toSeq
        .toDF("plane_id", "plane").coalesce(1).write.mode("overwrite")
        .parquet(vecAuxDir.resolve("lsh_planes.parquet").toString)
      val ivfCents = graft.operators.IvfIndex.train(
        Tables(spark, sfDir).embeddings, "vec_id", "embedding", nLists = N_LISTS)
      ivfCents
        .zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("list_id", "centroid").coalesce(1).write.mode("overwrite")
        .parquet(vecAuxDir.resolve("ivf_centroids.parquet").toString)
      // Residual PQ codebooks for the IVF-PQ path (v12/v13).
      graft.operators.IvfPqIndex.trainResidual(
        Tables(spark, sfDir).embeddings, "vec_id", "embedding", ivfCents,
        dim = DIM, m = M_SUB, k = K_CODES)
        .zipWithIndex.flatMap { case (cbk, j) =>
          cbk.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) }
        }.toSeq
        .toDF("j", "code", "centroid").coalesce(1).write.mode("overwrite")
        .parquet(vecAuxDir.resolve("pq_res_codebooks.parquet").toString)
      graft.operators.PqIndex.train(
        Tables(spark, sfDir).embeddings, "vec_id", "embedding",
        dim = DIM, m = M_SUB, k = K_CODES)
        .zipWithIndex.flatMap { case (cbk, j) =>
          cbk.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) }
        }.toSeq
        .toDF("j", "code", "centroid").coalesce(1).write.mode("overwrite")
        .parquet(vecAuxDir.resolve("pq_codebooks.parquet").toString)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] vec_aux dump failed: ${e.getMessage}")
    }
    // MinHash signatures (xxhash64 family — not expressible in DuckDB)
    // so the oracle can independently recompute d08's banding/pair-join/
    // estimate and d13's exact-Jaccard verification from the sketch.
    val textAuxDir = auxRoot.resolve("text_aux")
    try {
      import org.apache.spark.sql.functions.col
      import graft.functions.TextFunctions
      Tables(spark, sfDir).documents
        .select(col("doc_id"),
          TextFunctions.minhashSignature(
            TextFunctions.shingles(col("text"), 3), 64).as("sig"))
        .coalesce(1).write.mode("overwrite")
        .parquet(textAuxDir.resolve("minhash_sigs.parquet").toString)
      // Per-token xxhash64 arrays — DuckDB re-folds d11's Rabin-Karp
      // chain (acc*31+h mod 2^64) from these.
      Tables(spark, sfDir).documents
        .select(col("doc_id"),
          TextFunctions.tokenHashes(
            TextFunctions.tokens(col("text"))).as("hashes"))
        .coalesce(1).write.mode("overwrite")
        .parquet(textAuxDir.resolve("token_hashes.parquet").toString)
      // Hashed tf-idf + k-means model (idf weights and centroids) so
      // the d69 oracle re-derives every assignment from the IDENTICAL
      // doubles (the model memo shares one training run with the gate
      // query in this JVM).
      import spark.implicits._
      val tkm = graft.operators.TextKmeans.model(
        Tables(spark, sfDir).documents, "doc_id", "text", sfDir)
      tkm.idf.zipWithIndex.map { case (v, b) => (b.toLong, v) }.toSeq
        .toDF("bucket", "idf").coalesce(1).write.mode("overwrite")
        .parquet(textAuxDir.resolve("tfidf_idf.parquet").toString)
      tkm.centroids.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }
        .toSeq.toDF("cluster_id", "centroid").coalesce(1).write
        .mode("overwrite")
        .parquet(textAuxDir.resolve("kmeans_centroids.parquet").toString)
    } catch { case e: Throwable =>
      System.err.println(s"[verify] text_aux dump failed: ${e.getMessage}")
    }
    // Json.quote escapes every control char: a tab or CR in an oracle
    // query would otherwise make the compare's json.load fail and
    // silently zero the correctness gate
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v.replace("__AUX__", auxDir.toString)
        .replace("__VAUX__", vecAuxDir.toString)
        .replace("__TAUX__", textAuxDir.toString))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size}/${SparkEntry.queries.size} queries failed: " +
          failures.reverse.mkString(", "))
      sys.exit(1)
    }
  }
}
