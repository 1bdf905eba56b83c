package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy entity matching (record linkage) by blocked edit distance:
  * candidates share at least one RARE token (df ≤ `dfCap`), so the
  * pair space is Σ df² over rare tokens — never |corpus|² — and the
  * Levenshtein scalar (the expensive part) runs once per DISTINCT
  * candidate pair after the block join. The blocking recall bound is
  * explicit: near names sharing no token are out by design (raise
  * recall with more aggressive normalization, not a wider join).
  *
  * [[pairs]] (within-corpus, d70) keeps the block: tokens explode
  * map-side, the only pair stage is the equi join on the token, and
  * `distinct` collapses multi-token agreements before the distance is
  * computed.
  */
object FuzzyMatch {

  /** Within-corpus match pairs (key_a < key_b, dist ≤ maxDist). */
  def pairs(parts: DataFrame, idCol: String, nameCol: String,
      dfCap: Int = 25, maxDist: Int = 2): DataFrame = {
    val toks = parts.select(col(idCol), col(nameCol),
      explode(split(col(nameCol), " ")).as("tok"))
    val rare = toks.groupBy(col("tok")).agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") <= dfCap).select(col("tok"))
    val r = toks.join(rare, Seq("tok"))
    val a = r.select(col("tok"), col(idCol).as("key_a"),
      col(nameCol).as("name_a"))
    val b = r.select(col("tok"), col(idCol).as("key_b"),
      col(nameCol).as("name_b"))
    a.join(b, Seq("tok"))
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"))
      .distinct()
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("key_a"), col("key_b"), col("dist"))
  }
}
