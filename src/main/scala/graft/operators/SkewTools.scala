package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation primitives for joins whose key distribution AQE's
  * skew-join splitting can't fix (e.g. one key holding 30% of a 100 TB
  * fact table, joined against a non-broadcastable right side).
  *
  * Salted join: the skewed (large) side gets a deterministic salt in
  * [0, saltFactor) appended to its key; the other side is replicated
  * once per salt value. The join key becomes (key, salt), splitting
  * each hot key's rows across `saltFactor` reducers. Replication cost
  * is |right| × saltFactor — use for moderate right sides that exceed
  * the broadcast threshold but dwarf the skew savings.
  *
  * The salt is `pmod(xxhash64(<row identity>), saltFactor)` — pure
  * map-side, deterministic (reproducible runs, no RNG state).
  */
object SkewTools {

  /** Inner-join `large` (skewed) with `small` on `key`, salting the
    * hot keys across `saltFactor` reducers. `identityCols` feed the
    * salt hash (any columns that vary within a key group).
    */
  def saltedJoin(
      large: DataFrame,
      small: DataFrame,
      key: String,
      identityCols: Seq[String],
      saltFactor: Int): DataFrame = {
    require(saltFactor > 0)
    val salted = large.withColumn("__salt",
      pmod(xxhash64(identityCols.map(col): _*), lit(saltFactor)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Input-skew accommodation (optimization guide §2.5: "one huge
    * unsplittable file … repartition immediately after the read"): when
    * a frame's scan parallelism is below the cluster's default
    * parallelism — a single parquet row group, one gzip shard — hash-
    * repartition it by `key` so the downstream map-heavy pipeline
    * (shingling, signatures, explodes) uses every core instead of one.
    * Any well-partitioned input (a real corpus at scale has thousands
    * of splits) passes through untouched; the CONDITION, not the
    * partition count, is what keeps this scale-safe — at 100 TB the
    * repartition never fires and no extra full-text shuffle is paid.
    */
  def spreadIfNarrow(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }

  /** Pin a known high-fanout exchange at the session's configured
    * shuffle parallelism. AQE's coalescer sizes reduce partitions from
    * MAP-OUTPUT bytes, so an exchange whose reduce side explodes its
    * input — the df-capped posting-list pair enumeration: d ids in,
    * d²/2 pairs out — coalesces a few-MB bucket shuffle down to a
    * handful of tasks while every other core idles. That is the same
    * fanout-blind sizing [[spreadIfNarrow]] handles for scans (guide
    * §2.5), at the exchange the r17/r18 collect-explode fusions route
    * the pair work through. A user-specified repartition pins the
    * partition count (AQE never coalesces an explicit numPartitions),
    * and the following join/groupBy on the same keys reuses the
    * partitioning (guide §2.4), so the pin REPLACES the exchange the
    * chain already paid — it never adds one. The pinned count is
    * spark.sql.shuffle.partitions: the session's scale-set knob (cores
    * locally, cluster-sized in production), never a local constant —
    * exactly the pre-AQE operating point for these bounded shuffles.
    */
  def pinFanout(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)

  /** Per-key frequency report for deciding WHETHER to salt: top-k keys
    * with their row share. At scale, run on a sample
    * (`df.sample(0.001)`) — frequencies of heavy hitters survive
    * sampling.
    */
  def keySkewReport(df: DataFrame, key: String, topK: Int = 10): DataFrame = {
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("share", col("n_rows") / sum(col("n_rows")).over())
      .orderBy(col("n_rows").desc)
      .limit(topK)
  }
}
