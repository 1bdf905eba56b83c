package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkFixture, Tables}

class IvfSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private lazy val emb = Tables(spark, SparkFixture.sfDir).embeddings

  test("probing every list reproduces brute force exactly (recall 1.0)") {
    val queries = emb.filter(col("vec_id") < 5)
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", nLists = 8)
    val ivfAll = IvfIndex.ivfTopK(emb, queries, "vec_id", "embedding",
      centroids, k = 5, nProbe = 8)
    val brute = SimilaritySearch.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
    val recall = SimilaritySearch.recallAtK(ivfAll, brute, 5)
      .agg(avg(col("recall"))).head().getDouble(0)
    assert(recall == 1.0, s"full probe must equal brute force, recall=$recall")
  }

  test("partial probe trades recall for a bounded candidate set") {
    val queries = emb.filter(col("vec_id") < 5)
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", nLists = 8)
    val ivf = IvfIndex.ivfTopK(emb, queries, "vec_id", "embedding",
      centroids, k = 5, nProbe = 3)
    val brute = SimilaritySearch.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
    val recall = SimilaritySearch.recallAtK(ivf, brute, 5)
      .agg(avg(col("recall"))).head().getDouble(0)
    assert(recall > 0.2, s"recall collapsed: $recall")
    assert(ivf.groupBy("query_id").count().collect().forall(_.getLong(1) <= 5))
  }

  test("knnGraph equals ivfTopK with the corpus as the query set") {
    val centroids = IvfIndex.train(emb, "vec_id", "embedding", nLists = 8)
    val sample = emb.filter(col("vec_id") < 100)
    val graph = IvfIndex.knnGraph(sample, "vec_id", "embedding",
      centroids, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val twin = IvfIndex.ivfTopK(sample, sample, "vec_id", "embedding",
      centroids, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(graph == twin, "the shuffled self-join must produce the broadcast plan's result")
    assert(graph.nonEmpty)
    // no self-edges, ranks within k
    assert(graph.forall(e => e._1 != e._2 && e._3 >= 1 && e._3 <= 3))
  }

  test("embedding-cosine near-dup pairs are symmetric-free and thresholded") {
    val pairs = Dedup.embeddingNearDupPairs(emb.limit(500), "vec_id", "embedding",
      dim = 64, minCosine = 0.0, nPlanes = 4).collect()
    assert(pairs.nonEmpty, "same-bucket pairs with cos >= 0 expected")
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)), "pairs must be ordered (no duplicates)")
    assert(pairs.forall(_.getDouble(2) >= 0.0))
  }

  /** Mean quantization cost (1 − cosine to the nearest center). */
  private def cost(centroids: Array[Array[Double]]): Double = {
    import graft.functions.VectorFunctions.cosine
    val best = array_max(array(centroids.map(c =>
      cosine(col("embedding"), array(c.map(lit): _*))): _*))
    emb.select(avg(lit(1.0) - best)).head().getDouble(0)
  }

  test("k-means|| seeding is deterministic and no worse than lowest-id seeding") {
    val scalable = IvfIndex.trainScalable(emb, "vec_id", "embedding",
      nLists = 8, rounds = 3, seed = "s1")
    val again = IvfIndex.trainScalable(emb, "vec_id", "embedding",
      nLists = 8, rounds = 3, seed = "s1")
    assert(scalable.length == 8 && scalable.forall(_.length == 64))
    // fully deterministic: seeded md5 coins + seeded driver PRNG
    assert(scalable.zip(again).forall { case (a, b) => a.sameElements(b) })
    val seeded = IvfIndex.train(emb, "vec_id", "embedding", nLists = 8)
    val (cS, cL) = (cost(scalable), cost(seeded))
    assert(cS <= cL * 1.05, s"k-means|| cost $cS should not lose to naive seeding $cL")
  }

  test("multi-probe LSH: nProbe=1 equals single-probe; recall monotone in nProbe") {
    val q = emb.filter(col("vec_id") < 10)
    // degenerate case: probing only the own bucket IS lshTopK
    val single = SimilaritySearch.lshTopK(emb, q, "vec_id", "embedding",
        k = 5, dim = 64, nPlanes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    val mp1 = SimilaritySearch.multiProbeLshTopK(emb, q, "vec_id", "embedding",
        k = 5, dim = 64, nPlanes = 8, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(mp1 == single, "nProbe = 1 must degenerate to the single-probe result")
    // monotonicity: the candidate set only grows with nProbe, so
    // recall against exact brute force can never drop
    val exact = SimilaritySearch.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5)
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      SimilaritySearch.recallAtK(df, exact, 5).agg(avg(col("recall"))).head().getDouble(0)
    val r1 = recall(SimilaritySearch.multiProbeLshTopK(emb, q, "vec_id", "embedding",
      k = 5, dim = 64, nPlanes = 8, nProbe = 1))
    val r3 = recall(SimilaritySearch.multiProbeLshTopK(emb, q, "vec_id", "embedding",
      k = 5, dim = 64, nPlanes = 8, nProbe = 3))
    val r5 = recall(SimilaritySearch.multiProbeLshTopK(emb, q, "vec_id", "embedding",
      k = 5, dim = 64, nPlanes = 8, nProbe = 5))
    assert(r3 >= r1 && r5 >= r3, s"recall must be monotone: $r1 / $r3 / $r5")
    assert(r5 > r1, s"probing 4 extra buckets must find SOMETHING new here: $r1 -> $r5")
  }

  test("range search returns exactly the pairs above the cosine radius") {
    import graft.functions.VectorFunctions
    val queries = emb.filter(col("vec_id") < 10)
    val rows = SimilaritySearch.rangeSearch(emb, queries, "vec_id", "embedding",
      minCosine = 0.25).collect()
    // membership matches an independent brute-force construction
    val want = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", graft.functions.HofTwins.cosineHof(col("qv"), col("cv")))
      .filter(col("sim") >= 0.25)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty, "fixture must have in-radius pairs or the test is vacuous")
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == want)
    assert(rows.forall(r => r.getDouble(2) >= 0.25 && r.getLong(0) != r.getLong(1)))
    // an impossible radius is empty, not an error
    assert(SimilaritySearch.rangeSearch(emb, queries, "vec_id", "embedding",
      minCosine = 1.1).isEmpty)
  }
}
