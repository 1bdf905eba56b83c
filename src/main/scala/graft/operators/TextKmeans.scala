package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Topic-style corpus clustering for data curation: hashed tf-idf
  * document vectors (the hashing trick — token → md5-prefix bucket, so
  * the feature space is a FIXED `dim`, never the open vocabulary) and
  * Lloyd k-means over them. The clustering stage behind cluster-level
  * corpus filtering / domain discovery in LLM-data pipelines (the
  * text-side sibling of the embedding-space IVF family).
  *
  * 100 TB shape: tf is one (doc, bucket) aggregation; idf is a
  * dim-sized aggregate (the only per-corpus collect — `dim` rows);
  * vectors are map-side dense arrays; every Lloyd step is assign
  * (map-side argmin against broadcast-literal centroids) + per-cluster
  * mean (one bounded groupBy via posexplode — k·dim rows collected,
  * an index artifact, never data). Assignment of the full corpus never
  * leaves the executors.
  *
  * Determinism: bucket is the md5-prefix integer both engines compute;
  * tf-idf weights, the L2 norm and every distance fold in ascending
  * bucket/dimension order seeded at 0.0 (exactly DuckDB's
  * first-element list_reduce seed since 0.0 + x is exact); argmin
  * ties break toward the smaller cluster id. The oracle re-derives
  * assignment from the dumped (idf, centroid) artifacts — identical
  * parquet doubles — so no training float is ever recomputed
  * cross-engine.
  */
object TextKmeans {

  val DIM = 32
  val K = 8
  val ITERS = 4

  final case class Model(idf: Array[Double], centroids: Array[Array[Double]])

  // One model per sf dir per JVM: gate query and Verify's artifact dump
  // share the exact in-memory doubles (the VectorQueries memo pattern).
  private val modelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Feature bucket for a token: first 8 md5 hex chars as an integer,
    * mod `dim` (non-negative — conv yields [0, 2³²)).
    */
  def bucket(token: Column, dim: Int): Column =
    conv(substring(md5(token), 1, 8), 16, 10).cast("long") % dim

  /** Sparse (id, bucket, tf) term counts; empty tokens dropped. */
  private def tfSparse(docs: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame =
    docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .groupBy(col(idCol), bucket(col("__t"), dim).as("bucket"))
      .agg(count(lit(1)).cast("double").as("tf"))

  /** Smoothed per-bucket idf: ln((N+1)/(df+1)) + 1, df = docs carrying
    * the bucket (0 for never-hit buckets). A dim-sized artifact.
    */
  def trainIdf(docs: DataFrame, idCol: String, textCol: String,
      dim: Int): Array[Double] = {
    val n = docs.count()
    val dfs = tfSparse(docs, idCol, textCol, dim)
      .groupBy(col("bucket")).agg(count(lit(1)).as("df")).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    Array.tabulate(dim) { b =>
      math.log((n + 1.0) / (dfs.getOrElse(b, 0L) + 1.0)) + 1.0
    }
  }

  /** Dense L2-normalized tf-idf vector per document. Token-less
    * documents keep their all-zero vector (norm guard, no NaN).
    */
  def vectors(docs: DataFrame, idCol: String, textCol: String,
      idf: Array[Double]): DataFrame = {
    val dim = idf.length
    val idfLit = typedLit(idf.toSeq)
    val sparse = tfSparse(docs, idCol, textCol, dim)
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("tf"))))
        .as("__m"))
    docs.select(col(idCol)).join(sparse, Seq(idCol), "left")
      .select(col(idCol), transform(sequence(lit(0L), lit(dim - 1L)),
        b => coalesce(element_at(col("__m"), b), lit(0.0)) *
          element_at(idfLit, (b + 1).cast("int"))).as("__raw"))
      .withColumn("__norm", sqrt(aggregate(col("__raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col(idCol),
        when(col("__norm") > 0,
          transform(col("__raw"), x => x / col("__norm")))
          .otherwise(col("__raw")).as("vec"))
  }

  /** Map-side squared L2 distance to a literal centroid, folded in
    * ascending dimension order from 0.0 — via the native L2SqExpr
    * kernel (r18): same `s += (a−b)·(a−b)` double fold as the
    * `aggregate(zip_with(...))` form it replaced (VecKernelSpec pins
    * kernel == HOF bit-identity), but one codegen'd node instead of a
    * ~32-op lambda tree PER CENTROID — the argmin over k centroids was
    * k such trees, and Catalyst re-planned them for every Lloyd
    * iteration (r18 profile: d69's training was 3.5 s of DRIVER gap
    * across 28 jobs).
    */
  def sqDist(vec: Column, centroid: Array[Double]): Column =
    graft.functions.VectorFunctions.l2Sq(vec, array(centroid.map(lit): _*))

  /** Argmin cluster id against literal centroids (tie → smaller id). */
  def nearestCluster(vec: Column, centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(sqDist(vec, c).as("d"), lit(i).as("idx"))
    }
    array_min(array(scored: _*)).getField("idx")
  }

  /** Train the (idf, centroids) model: seed with the `k` lowest-id
    * documents carrying at least one token, then `iters` distributed
    * Lloyd steps (assign → per-cluster mean). Memoized per `dir`.
    */
  def model(docs: DataFrame, idCol: String, textCol: String, dir: String,
      dim: Int = DIM, k: Int = K, iters: Int = ITERS): Model =
    modelMemo.computeIfAbsent(s"$dir:$dim:$k", { _ =>
      // Narrow-input accommodation, decided ONCE from the source's
      // split count (the spreadIfNarrow condition; guide §2.5): a
      // single-split corpus fixture otherwise runs the tokenize+md5
      // scan AND every Lloyd iteration over the tiny cached vectors
      // frame on 1-2 tasks (r18 profile: d69 was 27 sequential
      // single-task jobs). A many-split 100 TB corpus passes through
      // both branches untouched. Pure partitioning — the training
      // doubles fold in the same per-row order, so the model is
      // bit-identical either way.
      val narrow =
        docs.rdd.getNumPartitions < docs.sparkSession.sparkContext.defaultParallelism
      val d = SkewTools.spreadIfNarrow(docs, col(idCol))
      val idf = trainIdf(d, idCol, textCol, dim)
      val vecs0 = vectors(d, idCol, textCol, idf)
      val vecs = (if (narrow)
        vecs0.repartition(
          docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      else vecs0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds = vecs
        .filter(aggregate(col("vec"), lit(0.0), (a, x) => a + x * x) > 0)
        .orderBy(col(idCol)).limit(k)
        .select(col("vec")).collect()
        .map(_.getSeq[Double](0).toArray)
      var cents = seeds
      (0 until iters).foreach { _ =>
        val means = vecs
          .withColumn("__c", nearestCluster(col("vec"), cents))
          .select(col("__c"), posexplode(col("vec")).as(Seq("pos", "v")))
          .groupBy(col("__c"), col("pos"))
          .agg(avg(col("v")).as("m"))
          .groupBy(col("__c"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")).as("centroid"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
        cents = cents.indices.map(i => means.getOrElse(i, cents(i))).toArray
      }
      vecs.unpersist()
      Model(idf, cents)
    }).asInstanceOf[Model]

  /** Per-document cluster assignment with micro-floored squared
    * distance — the gate-facing read of the model.
    */
  def assign(docs: DataFrame, idCol: String, textCol: String,
      m: Model): DataFrame =
    vectors(SkewTools.spreadIfNarrow(docs, col(idCol)), idCol, textCol, m.idf)
      .withColumn("cluster_id", nearestCluster(col("vec"), m.centroids))
      .withColumn("dist_micro",
        floor(array_min(array(m.centroids.zipWithIndex.map { case (c, i) =>
          struct(sqDist(col("vec"), c).as("d"), lit(i).as("idx"))
        }: _*)).getField("d") * lit(1000000.0)))
      .select(col(idCol), col("cluster_id").cast("long").as("cluster_id"),
        col("dist_micro"))
}
