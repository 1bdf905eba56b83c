package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.ZorderBytes

/** `OPTIMIZE ... ZORDER BY`-style table clustering (reference command:
  * OptimizeZorderCommand.scala:32-60; here as a Spark-first transform —
  * a range repartition on the z-key plus in-partition sort gives the
  * same layout a global sort would, with AQE-sized output partitions).
  *
  * After clustering, every output file covers a small hyper-rectangle
  * of the z-ordered dimensions, so parquet min/max row-group stats
  * prune multi-dimensional filters (the reference reports ~99.5% row
  * skipping for 2-column keys at 10B rows, z-order.md:313-331).
  */
object ZorderOptimize {

  /** Z-order clustering: global range layout by the interleaved key. */
  def cluster(df: DataFrame, cols: Seq[Column]): DataFrame = {
    val key = ZorderBytes.zorder(cols: _*)
    df.repartitionByRange(key).sortWithinPartitions(key)
  }

  /** As [[cluster]] with an explicit file count: more output files →
    * each covers a smaller z-curve segment → finer min/max pruning.
    */
  def cluster(df: DataFrame, cols: Seq[Column], numPartitions: Int): DataFrame = {
    val key = ZorderBytes.zorder(cols: _*)
    df.repartitionByRange(numPartitions, key).sortWithinPartitions(key)
  }
}
