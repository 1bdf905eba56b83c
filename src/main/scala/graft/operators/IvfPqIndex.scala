package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF-PQ: the coarse inverted-file quantizer of [[IvfIndex]] composed
  * with product quantization of the RESIDUALS (vector minus its list
  * centroid) — the standard billion-scale ANN layout (FAISS IVFPQ;
  * Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011). Residuals are much smaller than raw vectors, so the
  * same codebook budget quantizes them far more precisely than
  * whole-vector PQ.
  *
  * Scoring decomposes the inner product exactly:
  *   q·x  =  q·c(x)  +  q·(x − c(x))  ≈  q·c(x) + Σ_j lut_q[j][code_j]
  * where `c(x)` is x's list centroid — one per-(query, list) scalar
  * plus m table lookups per candidate.
  *
  * The 100 TB shape inherits the best of both parents: the corpus
  * carries ONLY (list_id, m code ids) — 16-64× fewer bytes than raw
  * embeddings; the probe join is equi on small-int list ids against a
  * broadcast query side (a query scores |corpus|·nProbe/nLists
  * candidates, not |corpus|); encode / LUT / ADC are native codegen'd
  * kernels ([[org.apache.spark.sql.graft.PqExpr]]); ranking is the
  * map-side [[TopKAggregator]]. Only centroids + codebooks (index
  * artifacts) touch the driver.
  */
object IvfPqIndex {

  /** Residual of a vector against its nearest-list centroid, computed
    * in double (exactly what the oracle recomputes). Map-side only:
    * centroids ride along as plan literals.
    */
  def residual(vec: Column, centroids: Array[Array[Double]]): Column = {
    val centArr = array(centroids.map(c => array(c.map(lit): _*)): _*)
    val cent = element_at(centArr, IvfIndex.nearestList(vec, centroids) + 1)
    zip_with(vec, cent, (v, c) => v.cast("double") - c)
  }

  /** Train `m` residual codebooks of `k` centroids each — PqIndex's
    * Lloyd loop run over the residual column (array<double>; the
    * encode kernel accepts both layouts). Seeds are the `k` lowest-id
    * residuals, mirroring PqIndex.train.
    */
  def trainResidual(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], dim: Int, m: Int, k: Int,
      iterations: Int = 1): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    // persisted: the seed collect AND every Lloyd iteration read this
    // frame; lazy, each action re-ran the residual projection over the
    // corpus. Both consumers are in-function collects, so the cache is
    // released before returning (no SketchRegistry needed).
    val res = corpus.select(col(idCol).as("__id"),
      residual(col(vecCol), centroids).as("__res"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val seeds = res.orderBy(col("__id")).limit(k).select(col("__res")).collect()
      .map(_.getSeq[Double](0).toArray)
    var codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seeds.map(v => v.slice(j * dsub, (j + 1) * dsub)))
    (0 until iterations).foreach { _ =>
      val means = res
        .select(col("__res").as("vec"),
          posexplode(org.apache.spark.sql.graft.PqExpr.encode(col("__res"), codebooks))
            .as(Seq("j", "code")))
        .select(col("j"), col("code"),
          posexplode(slice(col("vec"), col("j") * dsub + 1, lit(dsub))).as(Seq("pos", "v")))
        .groupBy(col("j"), col("code"), col("pos"))
        .agg(avg(col("v")).as("mean"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
      codebooks = Array.tabulate(m) { j =>
        Array.tabulate(k) { i =>
          if (means.contains((j, i, 0))) Array.tabulate(dsub)(t => means((j, i, t)))
          else codebooks(j)(i)
        }
      }
    }
    codebooks
    } finally res.unpersist(blocking = false)
  }

  /** Encode the corpus into the index's data-sized artifact: one row
    * per vector, carrying ONLY `(id, list_id, m code ids)`.
    * Partition-parallel, map-side (centroids/codebooks are plan
    * literals) — this is the shape that gets persisted and probed.
    */
  def encodeCorpus(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"),
      IvfIndex.nearestList(col(vecCol), centroids).as("list_id"),
      org.apache.spark.sql.graft.PqExpr.encode(
        residual(col(vecCol), centroids), codebooks).as("codes"))

  /** The probe kernel over an already-encoded corpus (`encoded` must
    * have the [[encodeCorpus]] shape): query side explodes to its
    * nProbe lists and broadcasts (query_id, list, q·centroid scalar,
    * residual LUT); the equi join on small-int list ids touches only
    * probed candidates.
    */
  def probeEncoded(encoded: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], k: Int, nProbe: Int): DataFrame = {
    val qdots = array(centroids.map(cn =>
      VectorFunctions.dot(col("qv"), array(cn.map(lit): _*))): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("list_id",
        explode(IvfIndex.probeLists(col("qv"), centroids, nProbe)))
      .withColumn("qdotc", element_at(qdots, col("list_id") + 1))
      .withColumn("lt",
        org.apache.spark.sql.graft.PqExpr.lookupTable(col("qv"), codebooks))
      .drop("qv")
    val scored = encoded.join(broadcast(q), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score",
        col("qdotc") + org.apache.spark.sql.graft.PqExpr.adcDot(col("lt"), col("codes")))
    SimilaritySearch.rankTopK(scored, k, simAlias = "score")
  }

  /** IVF-PQ top-k by approximate dot product: corpus side carries only
    * (list_id, codes); query side broadcasts (query_id, probed list,
    * q·centroid scalar, residual LUT).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], k: Int, nProbe: Int): DataFrame =
    probeEncoded(encodeCorpus(corpus, idCol, vecCol, centroids, codebooks),
      queries, idCol, vecCol, centroids, codebooks, k, nProbe)

  /** IVF-PQ with exact re-ranking (FAISS's refine stage): take the
    * `k * refineFactor` best ADC candidates, rescore ONLY those with
    * the exact dot product, return the exact-ranked top k. Recovers
    * most of the quantization loss for the cost of |queries|·k·refine
    * exact dots.
    *
    * Scale shape: the candidate set is query-side-sized, so it
    * BROADCASTS back against the corpus (a broadcast hash join — the
    * corpus never shuffles for the rescore) and only candidate rows
    * pay the full-width dot.
    */
  def ivfPqTopKRefined(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], k: Int, nProbe: Int,
      refineFactor: Int = 4): DataFrame = {
    val cand = ivfPqTopK(corpus, queries, idCol, vecCol, centroids, codebooks,
      k = k * refineFactor, nProbe = nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val rescored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("sim", VectorFunctions.dot(col("qv"), col("cv")))
    SimilaritySearch.rankTopK(rescored, k)
  }

  // ---- persisted lifecycle: build once, probe many ----
  //
  // Training + encoding is a one-time cost amortized over every probe
  // — the production economics of an ANN index (FAISS's write_index/
  // read_index). Artifacts are plain parquet, so the index a 1000-
  // executor job built is openable by any other job, and the encoded
  // corpus (the only data-sized artifact) stays distributed: opening
  // reads centroids + codebooks (index-artifact-sized) to the driver
  // and leaves the codes table as a lazy parquet scan.

  /** Train IVF centroids + residual codebooks over `corpus`, encode
    * it, and persist the index at `path`:
    *   path/codes      (neighbor_id, list_id, codes)   — data-sized
    *   path/centroids  (list_id, centroid)             — nLists rows
    *   path/codebooks  (j, code, centroid)             — m·k rows
    */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String, path: String,
      dim: Int, m: Int, k: Int, nLists: Int, iterations: Int = 1): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = IvfIndex.train(corpus, idCol, vecCol, nLists)
    val rcb = trainResidual(corpus, idCol, vecCol, cents, dim, m, k, iterations)
    // The three artifact writes are independent jobs over disjoint
    // directories — overlap them (guide §2.6): the codes encode+write
    // is the long pole, and the two tiny one-file quantizer writes
    // otherwise serialize a full driver round-trip each behind it.
    // The meta pointer still writes strictly AFTER codes exists.
    // Partial-failure contract (broadened by the overlap, deliberately):
    // only the codes dir is meta-versioned; the quantizers overwrite in
    // place, so a failed CODES write can now leave fresh
    // centroids/codebooks paired with the old codes+meta — sequentially,
    // codes failed before the quantizers were touched. A half-built
    // index must therefore be rebuilt to completion before it is
    // reopened; that was already the operational rule (no caller opens
    // an index whose buildIndex threw), and versioning the two
    // artifact-sized quantizer files would buy nothing but a second
    // pointer to keep consistent.
    runConcurrently(
      () => encodeCorpus(corpus, idCol, vecCol, cents, rcb)
        .write.mode("overwrite").parquet(s"$path/codes"),
      () => cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("list_id", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/centroids"),
      () => rcb.zipWithIndex.flatMap { case (cbk, j) =>
        cbk.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) }
      }.toSeq.toDF("j", "code", "centroid").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/codebooks"))
    writeCodesMeta(spark, path, "codes")
    // a rebuild over a previously-compacted artifact resets the
    // pointer — drop the now-orphaned version dirs and every
    // tombstone set (the fresh encode contains exactly the corpus
    // passed in; stale deletes must not mask the new rows)
    pruneVersionedDirs(spark, path, "codes", keep = Set("codes"))
    pruneVersionedDirs(spark, s"$path/tombstones", "codes", keep = Set.empty)
  }

  /** Run independent driver actions on a small thread pool and wait
    * for all (guide §2.6 — Spark happily runs several jobs at once;
    * they are only sequential because driver code calls them
    * sequentially). The first failure propagates after every task has
    * settled, so no write is silently abandoned mid-flight.
    */
  private def runConcurrently(tasks: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    try {
      val futures = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = t()
      }))
      var firstFailure: Throwable = null
      futures.foreach { f =>
        // settle EVERY future before rethrowing — an interrupt or
        // cancellation must not skip the wait on the remaining writes,
        // or a write would keep running after the method has thrown
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure == null) firstFailure = e.getCause
          case e @ (_: InterruptedException |
                    _: java.util.concurrent.CancellationException) =>
            if (firstFailure == null) firstFailure = e
        }
      }
      if (firstFailure != null) {
        if (firstFailure.isInstanceOf[InterruptedException])
          Thread.currentThread().interrupt()
        throw firstFailure
      }
    } finally pool.shutdown()
  }

  /** One-row pointer artifact naming the live codes directory — the
    * versioned-compaction swap target (see [[compactIndex]]).
    */
  private def writeCodesMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, codesDir: String): Unit = {
    import spark.implicits._
    Seq(codesDir).toDF("codes_dir").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Resolve the live codes dir: follow the meta pointer when present
    * (pre-r13 artifacts have none — the unversioned "codes" dir).
    */
  private def currentCodesDir(spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    try spark.read.parquet(s"$path/meta").head().getAs[String]("codes_dir")
    catch { case _: Throwable => "codes" }

  /** A persisted index opened for probing: no training, no access to
    * the raw corpus — [[topK]] reads nothing but the artifacts.
    * `tombstones` carries the logically-deleted ids recorded against
    * this codes version (see [[deleteFromIndex]]); probes exclude them
    * BEFORE scoring, so ranks recompute among survivors.
    */
  final class OpenedIndex(
      val centroids: Array[Array[Double]],
      val codebooks: Array[Array[Array[Double]]],
      val codesDir: String,
      val codes: DataFrame,
      val tombstones: Option[DataFrame] = None) {

    /** The probe-visible codes: the artifact minus tombstoned ids. */
    def liveCodes: DataFrame = tombstones.fold(codes)(t =>
      codes.join(t.select(col("neighbor_id")), Seq("neighbor_id"), "left_anti"))

    def topK(queries: DataFrame, idCol: String, vecCol: String,
        k: Int, nProbe: Int): DataFrame =
      probeEncoded(liveCodes, queries, idCol, vecCol, centroids, codebooks, k, nProbe)

    /** Refine stage over the persisted index: ADC candidates from the
      * codes table, exact rescore against the caller-provided raw
      * corpus (the index does not store raw vectors).
      */
    def topKRefined(corpus: DataFrame, queries: DataFrame, idCol: String,
        vecCol: String, k: Int, nProbe: Int, refineFactor: Int = 4): DataFrame = {
      val cand = topK(queries, idCol, vecCol, k = k * refineFactor, nProbe = nProbe)
        .select(col("query_id"), col("neighbor_id"))
      val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      val rescored = corpus
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
        .join(broadcast(cand), Seq("neighbor_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("sim", VectorFunctions.dot(col("qv"), col("cv")))
      SimilaritySearch.rankTopK(rescored, k)
    }
  }

  /** Open a persisted index: centroids and codebooks (artifact-sized)
    * are collected to the driver once; the encoded corpus stays a lazy
    * distributed parquet scan.
    */
  def openIndex(spark: org.apache.spark.sql.SparkSession, path: String): OpenedIndex = {
    // The three artifact reads (centroid collect, codebook collect,
    // meta-pointer read + codes listing) are independent driver jobs —
    // overlap them (guide §2.6) instead of paying three sequential
    // job latencies per open.
    var cents: Array[Array[Double]] = null
    var codebooks: Array[Array[Array[Double]]] = null
    var codesDir: String = null
    var codesDf: DataFrame = null
    runConcurrently(
      () => cents = spark.read.parquet(s"$path/centroids").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).map(_._2),
      () => {
        val cbRows = spark.read.parquet(s"$path/codebooks").collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
        val m = cbRows.map(_._1).max + 1
        codebooks = Array.tabulate(m) { j =>
          cbRows.filter(_._1 == j).sortBy(_._2).map(_._3)
        }
      },
      () => {
        codesDir = currentCodesDir(spark, path)
        codesDf =
          try spark.read.parquet(s"$path/$codesDir")
          catch {
            // the pointed dir was pruned between our meta read and this
            // open (a racing compaction) — one re-read lands on the
            // current version
            case _: Throwable =>
              spark.read.parquet(s"$path/${currentCodesDir(spark, path)}")
          }
      })
    new OpenedIndex(cents, codebooks, codesDir, codesDf,
      tombstonesFor(spark, path, codesDir))
  }

  /** The tombstone set recorded against one codes version, if any —
    * tombstones are KEYED BY codes dir so a reader that resolved the
    * previous version during a compaction race keeps a consistent
    * (codes, deletes) pair.
    */
  private def tombstonesFor(spark: org.apache.spark.sql.SparkSession,
      path: String, codesDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones/$codesDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Logical delete (FAISS `remove_ids` semantics, LSM-style): the ids
    * land in a tombstone artifact keyed by the CURRENT codes version,
    * probes anti-join them out before scoring (ranks recompute among
    * survivors), and the next [[compactIndex]] drops the rows
    * physically and starts the new version tombstone-free. O(|ids|)
    * write — the codes artifact is untouched, so deletes are cheap at
    * any corpus size and a burst of them degrades probe cost only by
    * one bounded anti-join until compaction. A delete issued
    * concurrently with a compaction may target the version being
    * replaced — re-issue after compaction (the same eventual-
    * consistency caveat as any LSM delete racing a merge). Re-adding
    * a deleted id via [[appendToIndex]] stays masked until the next
    * compaction clears the tombstone — delete wins within a version.
    */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, idCol: String): Unit = {
    val dir = currentCodesDir(spark, path)
    ids.select(col(idCol).cast("long").as("neighbor_id"))
      .write.mode("append").parquet(s"$path/tombstones/$dir")
  }

  /** Incremental index maintenance: encode NEW vectors with the
    * persisted index's existing centroids and codebooks and append
    * their codes to the artifact — no retraining, no rebuild, no
    * touch of the already-encoded corpus. This is how a 100 TB index
    * absorbs a daily ingest: encoding is one map-side pass over the
    * new rows only, and because the quantizers are unchanged, the
    * appended index is BIT-IDENTICAL to re-encoding the full corpus
    * under the same quantizers (pinned in IvfPqSpec). Quantizer drift
    * is a retrain decision, not an append concern — FAISS's add()
    * semantics on a trained index.
    */
  def appendToIndex(newRows: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val opened = openIndex(newRows.sparkSession, path)
    encodeCorpus(newRows, idCol, vecCol, opened.centroids, opened.codebooks)
      .write.mode("append").parquet(s"$path/${opened.codesDir}")
  }

  /** Compact the codes artifact — the maintenance companion of
    * [[appendToIndex]]: append-only ingest accumulates one small file
    * set per batch (and a replayed append can double-write rows).
    * Compaction rewrites `path/codes` as `targetFiles` files with
    * exact-duplicate rows dropped, through a versioned sibling
    * directory + meta-pointer flip so a concurrent open sees either the
    * old or the new artifact, never ENOENT.
    * Quantizers are untouched and the PROBE-VISIBLE codes set is
    * unchanged (tombstoned rows — already invisible to probes — are
    * dropped physically and the new version starts tombstone-free),
    * so probe results are identical — the FAISS-side analogue of
    * parquet small-file compaction plus the LSM delete-merge.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int = 32): Unit = {
    val curDir = currentCodesDir(spark, path)
    val nextDir = nextVersionedDir("codes", curDir)
    val base = spark.read.parquet(s"$path/$curDir").distinct()
    // apply the logical deletes physically: the new version starts
    // tombstone-free (the LSM merge step of deleteFromIndex)
    val live = tombstonesFor(spark, path, curDir).fold(base)(t =>
      base.join(t.select(col("neighbor_id")), Seq("neighbor_id"), "left_anti"))
    live.repartition(targetFiles)
      .write.mode("overwrite").parquet(s"$path/$nextDir")
    // flip the pointer, then prune versions older than the previous
    // one — an open racing the compaction resolves to either artifact,
    // both of which exist (no delete-then-rename ENOENT window).
    // curDir's tombstones survive one cycle for the same reason (a
    // reader on the old pointer keeps a consistent (codes, deletes)
    // pair); older ones are unreachable and dropped.
    writeCodesMeta(spark, path, nextDir)
    pruneVersionedDirs(spark, path, "codes", keep = Set(curDir, nextDir))
    pruneVersionedDirs(spark, s"$path/tombstones", "codes",
      keep = Set(curDir))
  }

  /** codes → codes_v1 → codes_v2 → … */
  private[operators] def nextVersionedDir(base: String, current: String): String = {
    val n =
      if (current == base) 0
      else current.stripPrefix(s"${base}_v").toInt
    s"${base}_v${n + 1}"
  }

  /** Delete every `base`/`base_vN` sibling not in `keep` — the
    * previous version survives one compaction cycle for readers that
    * resolved the pointer just before the flip.
    */
  private[operators] def pruneVersionedDirs(spark: org.apache.spark.sql.SparkSession,
      path: String, base: String, keep: Set[String]): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      val versioned = name == base || (name.startsWith(s"${base}_v") &&
        name.stripPrefix(s"${base}_v").forall(_.isDigit))
      if (st.isDirectory && versioned && !keep.contains(name)) {
        try fs.delete(st.getPath, true) catch { case _: Throwable => }
      }
    }
  }

  /** Retrain — the REPAIR half of [[appendToIndex]]'s drift contract:
    * [[recallAudit]] DETECTS the decay (frozen quantizers serving a
    * shifted distribution); retrain rebuilds the coarse centroids and
    * residual codebooks from the CURRENT corpus and re-encodes every
    * vector, restoring the trained-on-what-it-serves invariant
    * (FAISS's "retrain and re-add" maintenance action). Hyperparams
    * (dim, m, k, nLists) are read back from the existing artifacts so
    * the operator cannot accidentally change the index geometry.
    * Rebuild is a full buildIndex: the codes pointer resets and stale
    * versions are pruned; quantizer artifacts rewrite in place, so —
    * like the initial build — run it from the maintenance path, not
    * concurrently with opens (the codes-only compaction/append paths
    * stay versioned-atomic).
    */
  def retrainIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      iterations: Int = 1): Unit = {
    val opened = openIndex(spark, path)
    buildIndex(corpus, idCol, vecCol, path,
      dim = opened.centroids.head.length,
      m = opened.codebooks.length,
      k = opened.codebooks.head.length,
      nLists = opened.centroids.length,
      iterations = iterations)
  }

  /** Recall audit — the DETECTION half of [[appendToIndex]]'s drift
    * contract. Appends freeze the quantizers (FAISS add() semantics),
    * so vectors from a drifted distribution get stale centroids and
    * codebooks and probe recall silently decays; this measures it.
    * For a BOUNDED sample of query vectors, the index's ADC top-k is
    * compared with the exact dot-product top-k over the raw corpus,
    * reporting integer-exact per-query `(query_id, n_hits, k)` —
    * recall@k is `n_hits / k`. Run after each append wave; a drop
    * below the build-time baseline is the retrain signal.
    *
    * Scale shape: the sample broadcasts on both paths (the exact side
    * is one map-side corpus pass with partial top-k aggregation, the
    * probe side is the standard capped-fanout index join); the corpus
    * never shuffles and the audit output is |sample| rows.
    */
  def recallAudit(opened: OpenedIndex, corpus: DataFrame, sampleQueries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val approx = opened.topK(sampleQueries, idCol, vecCol, k, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val exact = SimilaritySearch.dotTopK(corpus, sampleQueries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    sampleQueries.select(col(idCol).as("query_id"))
      .join(hits, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        lit(k.toLong).as("k"))
  }
}
