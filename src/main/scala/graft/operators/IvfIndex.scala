package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** IVF (inverted-file) approximate nearest neighbor: a coarse
  * quantizer assigns every corpus vector to its nearest centroid
  * ("list"); a query scores only the vectors in its `nProbe` closest
  * lists. The 100 TB shape: assignment is a map-side expression
  * against broadcast-literal centroids, the probe join is equi on
  * list id (shuffle keyed by small ints), and ranking is the map-side
  * [[TopKAggregator]]. `nProbe = nLists` degenerates to exact brute
  * force — the recall knob is explicit.
  *
  * Centroid training is one distributed Lloyd iteration from
  * deterministic seeds (first `nLists` rows by id): argmin assignment
  * → per-list mean via posexplode — both full DataFrame jobs; only the
  * nLists×dim centroid matrix (an index artifact, like the LSH
  * hyperplanes) lands on the driver.
  */
object IvfIndex {

  /** Train centroids: seed with the `nLists` lowest-id vectors, then
    * `iterations` Lloyd steps (assign → mean).
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int, iterations: Int = 1): Array[Array[Double]] = {
    val seeds = corpus.orderBy(col(idCol)).limit(nLists)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    lloydSteps(corpus, vecCol, seeds, iterations)
  }

  /** k-means|| seeding (Bahmani et al., "Scalable K-Means++", VLDB
    * 2012) + Lloyd refinement — the production initializer for large
    * corpora, where [[train]]'s lowest-id seeding can start arbitrarily
    * badly. Spherical variant: cost(x) = 1 − max cosine(x, C).
    *
    * Per round: one scalar action for the total cost φ, then an
    * independent coin per point keeping it with probability
    * min(1, ℓ·cost/φ) — so each round collects only O(ℓ) candidate
    * vectors, never data. The coin is a seeded md5 uniform, making the
    * whole seeding deterministic and re-runnable (no Math.random —
    * same seed, same index). Candidates are then weighted by their
    * attraction counts (one count-by-nearest action) and reduced to
    * `nLists` centers driver-side by weighted k-means++ over the
    * ≤ rounds·ℓ+1 candidates — index-artifact-sized work. Distributed
    * Lloyd steps finish the job, same loop as [[train]].
    */
  def trainScalable(corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int, rounds: Int = 3, oversample: Int = 0,
      seed: String = "kmpp", iterations: Int = 1): Array[Array[Double]] = {
    val l = if (oversample > 0) oversample else 2 * nLists
    var cands: Array[Array[Double]] = corpus.orderBy(col(idCol)).limit(1)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    (1 to rounds).foreach { r =>
      val cost = lit(1.0) - bestSim(col(vecCol), cands)
      val withCost = corpus.select(col(idCol), col(vecCol), cost.as("__cost"))
      val phi = withCost.agg(sum(col("__cost"))).head.getDouble(0)
      if (phi > 0) {
        // uniform [0,1) from the first 8 hex digits of a seeded md5
        val u = conv(substring(md5(concat(lit(s"$seed-$r-"),
          col(idCol).cast("string"))), 1, 8), 16, 10).cast("double") / lit(4294967296.0)
        val sampled = withCost
          .filter(u < lit(l.toDouble) * col("__cost") / lit(phi))
          .select(col(vecCol)).collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toArray)
        cands ++= sampled
      }
    }
    // attraction weights: how much data each candidate pulls
    val weights = corpus
      .select(nearestList(col(vecCol), cands).as("__c"))
      .groupBy(col("__c")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val centers = weightedKmeansPlusPlus(cands,
      cands.indices.map(i => weights.getOrElse(i, 0L).toDouble).toArray, nLists, seed)
    lloydSteps(corpus, vecCol, centers, iterations)
  }

  /** Driver-side weighted k-means++ over the candidate set (tiny:
    * rounds·ℓ+1 rows). Deterministic via a seeded PRNG.
    */
  private def weightedKmeansPlusPlus(cands: Array[Array[Double]],
      weights: Array[Double], k: Int, seed: String): Array[Array[Double]] = {
    require(cands.nonEmpty, "no candidates")
    if (cands.length <= k) return cands
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val rng = new scala.util.Random(seed.hashCode.toLong)
    val first = weights.indexOf(weights.max) // heaviest candidate starts
    val centers = scala.collection.mutable.ArrayBuffer(cands(first))
    while (centers.length < k) {
      val costs = cands.indices.map { i =>
        weights(i) * (1.0 - centers.iterator.map(c => cos(cands(i), c)).max)
      }
      val tot = costs.sum
      val next =
        if (tot <= 0) cands.indices.find(i => !centers.exists(_ sameElements cands(i))).getOrElse(0)
        else {
          var r = rng.nextDouble() * tot
          var i = 0
          while (i < costs.length - 1 && r >= costs(i)) { r -= costs(i); i += 1 }
          i
        }
      centers += cands(next)
    }
    centers.toArray
  }

  /** Distributed Lloyd steps (assign → per-list mean), shared by both
    * trainers; only the nLists×dim matrix lands on the driver.
    */
  private def lloydSteps(corpus: DataFrame, vecCol: String,
      init: Array[Array[Double]], iterations: Int): Array[Array[Double]] = {
    var centroids = init
    (0 until iterations).foreach { _ =>
      val assigned = corpus.withColumn("list_id", nearestList(col(vecCol), centroids))
      val means = assigned
        .select(col("list_id"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy(col("list_id"), col("pos"))
        .agg(avg(col("v").cast("double")).as("m"))
        .groupBy(col("list_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i))).toArray
    }
    centroids
  }

  /** Max cosine similarity against the candidate set (map-side). */
  private def bestSim(vec: Column, centroids: Array[Array[Double]]): Column =
    array_max(array(centroids.map(c => cosine(vec, array(c.map(lit): _*))): _*))

  /** Map-side nearest-centroid id: argmax cosine against literal
    * centroids (broadcast with the plan, never shuffled).
    */
  def nearestList(vec: Column, centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(vec, array(c.map(lit): _*)).as("sim"), lit(i).as("idx"))
    }
    array_max(array(scored: _*)).getField("idx")
  }

  /** The `nProbe` nearest list ids for a query vector. */
  def probeLists(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(vec, array(c.map(lit): _*)).as("sim"), lit(i).as("idx"))
    }
    transform(slice(reverse(array_sort(array(scored: _*))), 1, nProbe),
      s => s.getField("idx"))
  }

  /** IVF top-k: score each query only against its probed lists. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], k: Int, nProbe: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      nearestList(col(vecCol), centroids).as("list_id"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(probeLists(col(vecCol), centroids, nProbe)).as("list_id"))
    val scored = c.join(broadcast(q), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val topk = TopKAggregator.udaf(k)
    scored.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.neighbor_id").as("neighbor_id"),
        col("s.sim").as("sim"), (col("pos") + 1).cast("int").as("rnk"))
  }

  /** All-pairs kNN graph: every corpus vector's top-k neighbors — the
    * primitive SemDedup clustering, graph-based dedup and connectivity
    * analyses start from. Unlike [[ivfTopK]] the query side IS the
    * corpus, so nothing is broadcastable: both sides carry their IVF
    * assignment and meet in a SHUFFLED equi-join on list_id — each
    * list joins only against its own ≈n/L members (the query side
    * explodes into its nProbe nearest lists), so the candidate count
    * is ≈ n·nProbe·(n/L), never n². Per-query ranking is the same
    * bounded-heap aggregate as [[ivfTopK]] (map-side combine), not a
    * window over the scored set.
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], k: Int, nProbe: Int): DataFrame = {
    // Spread a narrow scan BEFORE the per-row centroid scoring: the
    // assignment/probe projection over L centroids is the expensive
    // map side of this operator, and a single-split input (one parquet
    // row group locally; one unsplittable shard at scale) runs it in
    // ONE task while every other core idles (r17 profile: a 2.2 s
    // single-task stage upstream of v37/v39/v40/v41; guide §2.5
    // "input skew"). A real corpus with thousands of splits passes
    // through untouched.
    val spread = SkewTools.spreadIfNarrow(corpus, col(idCol))
    val c = spread.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      nearestList(col(vecCol), centroids).as("list_id"))
    val q = spread.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(probeLists(col(vecCol), centroids, nProbe)).as("list_id"))
    val scored = q.join(c, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
    val topk = TopKAggregator.udaf(k)
    scored.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("sim")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("query_id"), col("s.neighbor_id").as("neighbor_id"),
        col("s.sim").as("sim"), (col("pos") + 1).cast("int").as("rnk"))
  }
}
