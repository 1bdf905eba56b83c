package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for approximate nearest neighbor at
  * compression scale: each corpus vector is encoded as `m` small code
  * ids (one per subspace, argmin-L2 against a per-subspace codebook),
  * and queries score candidates with an asymmetric-distance lookup
  * table (ADC) — `m` table lookups per pair instead of a full
  * `dim`-length dot product.
  *
  * The 100 TB shape is the point: a 64-float embedding becomes `m`
  * byte-sized codes (16-64x less corpus bytes scanned/shuffled), the
  * codebooks and query LUTs are plan literals / broadcast rows, the
  * encode and score steps are pure map-side codegen'd expressions, and
  * ranking is the map-side [[TopKAggregator]] (no window skew). Only
  * the m×k×dsub codebook matrix — an index artifact like the IVF
  * centroids — ever lands on the driver.
  */
object PqIndex {

  /** Train `m` codebooks of `k` centroids each: seed each subspace with
    * the `k` lowest-id subvectors, then `iterations` Lloyd steps
    * (argmin-L2 assign → per-code mean).
    *
    * One corpus pass trains ALL subspaces together: the native encode
    * kernel assigns every subspace's code map-side in a single job, and
    * one (j, code, pos) aggregation yields every centroid mean — 1
    * action per iteration (plus 1 seed collect) instead of 2·m, and the
    * corpus is scanned once per iteration instead of m times. Only the
    * m×k×dsub codebook matrix ever reaches the driver.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iterations: Int = 1): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    val seeds = corpus.orderBy(col(idCol)).limit(k).select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    var codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seeds.map(v => v.slice(j * dsub, (j + 1) * dsub)))
    (0 until iterations).foreach { _ =>
      val means = corpus
        .select(col(vecCol).as("vec"),
          posexplode(encode(col(vecCol), codebooks)).as(Seq("j", "code")))
        .select(col("j"), col("code"),
          posexplode(slice(col("vec"), col("j") * dsub + 1, lit(dsub))).as(Seq("pos", "v")))
        .groupBy(col("j"), col("code"), col("pos"))
        .agg(avg(col("v").cast("double")).as("mean"))
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
  }

  /** PQ code array for a vector: one code id per subspace (native
    * codegen'd kernel; codebooks ride along as a plan reference object).
    */
  def encode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.graft.PqExpr.encode(vec, codebooks)

  /** ADC lookup table for a query vector: `lut[j][code]` = dot of the
    * query's j-th subvector with codebook centroid `code`.
    */
  def lookupTable(qv: Column, codebooks: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.graft.PqExpr.lookupTable(qv, codebooks)

  /** Approximate dot product from codes + LUT: m lookups, folded in
    * subspace order (the oracle mirrors the fold order exactly —
    * double addition is not associative).
    */
  def adcDot(lut: Column, codes: Column, m: Int): Column =
    org.apache.spark.sql.graft.PqExpr.adcDot(lut, codes)

  /** PQ top-k by approximate dot product: corpus side carries only
    * codes, query side broadcasts id + LUT, ranking is map-side.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val m = codebooks.length
    val c = corpus.select(col(idCol).as("neighbor_id"),
      encode(col(vecCol), codebooks).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      lookupTable(col(vecCol), codebooks).as("lt"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adcDot(col("lt"), col("codes"), m))
    SimilaritySearch.rankTopK(scored, k, simAlias = "adc")
  }

  /** PQ top-k by SYMMETRIC distance (FAISS's SDC mode): the query is
    * quantized too, so every code-to-code dot is precomputable ONCE
    * per index — the m·k² table below is index metadata (8·16² = 2 KiB
    * here), built driver-side from the codebooks and folded in the
    * same i-order as the ADC LUT so the oracle can replay it. Each
    * query's per-code LUT is then one row-gather from the table
    * (O(m·k) instead of ADC's O(m·k·dsub) dot computations — the mode
    * a query-heavy serving tier picks when it can afford quantizing
    * the query side's accuracy too), and scoring reuses the ADC
    * map-side fold over the corpus codes.
    */
  def sdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val m = codebooks.length
    val table: Seq[Seq[Seq[Double]]] = codebooks.toSeq.map { cb =>
      cb.toSeq.map { a =>
        cb.toSeq.map { b =>
          var s = 0.0
          var i = 0
          while (i < a.length) { s += a(i) * b(i); i += 1 }
          s
        }
      }
    }
    val tabLit = typedlit(table)
    val c = corpus.select(col(idCol).as("neighbor_id"),
      encode(col(vecCol), codebooks).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      transform(encode(col(vecCol), codebooks),
        (qc, j) => element_at(element_at(tabLit, (j + 1).cast("int")), qc + 1))
        .as("lt"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sdc", adcDot(col("lt"), col("codes"), m))
    SimilaritySearch.rankTopK(scored, k, simAlias = "sdc")
  }
}
