package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Upper-triangle gram-matrix statistics of an embedding column —
  * the Σxxᵀ every PCA / whitening / OPQ rotation pipeline starts
  * from. Components are floor-quantized to micro units FIRST (the
  * SQ-error audit's trick), so each pairwise product is an exact
  * integer and the corpus sum is associative — order-independent at
  * any partitioning AND at any batch split: the increments of two
  * batches sum to the increments of their union. Shape: each row
  * map-side explodes to its DIM·(DIM+1)/2 products, hash-aggregated
  * with map-side combine onto DIM² keys — the shuffle moves
  * O(partitions · DIM²) partial sums, never row data. At ~1e9 rows
  * the Long partial sums would near overflow (1e12 per product):
  * switch the sum column to DECIMAL(38,0) there; the quantization
  * contract is unchanged.
  */
object Gramian {

  /** (i, j, n, sum_qprod) for one frame of vectors. */
  def increments(vectors: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val q = transform(col(vecCol),
      v => floor(v.cast("double") * lit(1000000.0)).cast("long"))
    val pairs = flatten(transform(sequence(lit(0), lit(dim - 1)), i =>
      transform(sequence(i, lit(dim - 1)), j =>
        struct(i.cast("int").as("i"), j.cast("int").as("j"),
          (element_at(col("q"), i + 1) * element_at(col("q"), j + 1)).as("p")))))
    // spread a narrow scan before the DIM²/2-way explode (guide §2.5):
    // the per-row fanout is ~2080× and a single-row-group input would
    // otherwise run it on one core (r17; no-op on wide inputs)
    SkewTools.spreadIfNarrow(vectors, col(vecCol)).select(q.as("q"))
      .select(explode(pairs).as("t"))
      .groupBy(col("t.i").as("i"), col("t.j").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("t.p")).as("sum_qprod"))
  }
}
