package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Corpus quality filtering for training-data pipelines: repetition
  * metrics (in the spirit of the Gopher data-quality rules: most-frequent
  * token / 2-gram fraction, duplicate n-gram fraction), a combined
  * keep/drop quality gate, and regex redaction (PII patterns and term
  * denylists).
  *
  * Everything is a pure map-side array/regex expression — no shuffle, no
  * UDFs, fully inside whole-stage codegen. Per-doc cost is O(u·n) where
  * u = distinct tokens and n = doc tokens, both bounded by document
  * length, so at 100 TB these scale linearly with input bytes and never
  * touch the network.
  */
object QualityFilters {

  /** Fraction of `arr` occupied by its most frequent element (native
    * one-pass kernel; its HOF twin, test-scope
    * `HofTwins.topElementFracHof`, is TextKernelSpec's reference).
    */
  private def topElementFrac(arr: Column): Column =
    org.apache.spark.sql.graft.TextKernelExprs.topElementCount(arr)
      .cast("double") / size(arr)

  /** Per-document repetition metrics:
    *  - `max_token_frac`: share of tokens taken by the single most
    *    frequent token;
    *  - `top_2gram_frac`: share of 2-grams taken by the most frequent
    *    2-gram;
    *  - `dup_3gram_frac`: fraction of 3-gram positions whose gram also
    *    occurs elsewhere in the doc (1 - distinct/total).
    *
    * The arrays are materialized as their own projection first: a
    * nested-lambda counter over an inline `split`/`transform`
    * construction would re-evaluate that construction once per distinct
    * element (no common-subexpression elimination inside lambda trees —
    * O(u·n·cost(build)) per doc, 24s for 500 docs when first written).
    * Against an attribute reference the counter just walks the
    * materialized array value.
    */
  def repetitionMetrics(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    docs
      .select(col(idCol), toks.as("t"))
      .select(col(idCol), col("t"),
        shinglesOfTokens(col("t"), 2).as("g2"),
        shinglesOfTokens(col("t"), 3).as("g3"))
      .select(
        col(idCol),
        topElementFrac(col("t")).as("max_token_frac"),
        topElementFrac(col("g2")).as("top_2gram_frac"),
        (lit(1.0) - size(array_distinct(col("g3"))).cast("double") / size(col("g3")))
          .as("dup_3gram_frac"))
  }

  /** Combined quality gate: token count, type-token ratio and the
    * repetition ceiling decide `keep`. Thresholds are explicit columns so
    * downstream can audit WHY a doc was dropped (the pipeline-debugging
    * requirement that motivates keeping flags instead of filtering
    * silently).
    */
  def qualityGate(
      docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int, minTtr: Double, maxTokenFrac: Double): DataFrame =
    docs
      .select(col(idCol), tokens(col(textCol)).as("t")) // materialize once (see repetitionMetrics)
      .select(
        col(idCol),
        size(col("t")).as("n_tokens"),
        (size(array_distinct(col("t"))).cast("double") / size(col("t"))).as("ttr"),
        topElementFrac(col("t")).as("max_token_frac"))
      .withColumn("keep",
        col("n_tokens") >= minTokens && col("ttr") >= minTtr &&
          col("max_token_frac") <= maxTokenFrac)

  // Canned PII patterns (RE2-compatible so external engines can mirror
  // them; Java regex accepts the same syntax).
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Replace every match of `pattern` with `mask` (regexp_replace is
    * global in Spark).
    */
  def redact(text: Column, pattern: String, mask: String): Column =
    regexp_replace(text, pattern, mask)

  /** Redaction audit: hit count plus the redacted text, per document. */
  def redactionStats(
      docs: DataFrame, idCol: String, textCol: String,
      pattern: String, mask: String): DataFrame =
    docs.select(
      col(idCol),
      size(regexp_extract_all(col(textCol), lit(pattern), lit(0))).as("n_hits"),
      redact(col(textCol), pattern, mask).as("redacted"))

  /** EXACT rank-based length-quantile gate: keep documents whose text
    * length is >= the corpus' `permille`-quantile length, where the
    * quantile is the rank-⌈permille·n/1000⌉ value in ascending length
    * order (no approx_percentile — its sketch error is
    * engine-specific, so the result would not be oracle-checkable and
    * two runs of a production pipeline could keep different sets).
    *
    * 100 TB shape: lengths are bounded small integers, so the
    * distribution is compressed into a length HISTOGRAM first (one
    * partial-aggregated shuffle, |distinct lengths| rows). The
    * cumulative rank walk is a window over that histogram — bounded
    * by max document length, never by corpus size — and the threshold
    * goes back as a broadcast scalar for a map-side filter. The rank
    * arithmetic is pure integer ((permille·n + 999) div 1000), exact
    * in any engine.
    */
  def lengthQuantileKeep(
      docs: DataFrame, idCol: String, textCol: String,
      permille: Int = 900): DataFrame = {
    require(permille >= 1 && permille <= 1000, "permille in [1, 1000]")
    val lens = docs.select(col(idCol), length(col(textCol)).cast("long").as("len"))
    val hist = lens.groupBy(col("len")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("len")).rowsBetween(Long.MinValue, 0)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val tot = lens.agg(count(lit(1)).as("n"))
    val thr = cum.crossJoin(broadcast(tot))
      .filter(col("cum") >= expr(s"($permille * n + 999) div 1000"))
      .agg(min(col("len")).as("thr"))
    lens.crossJoin(broadcast(thr))
      .filter(col("len") >= col("thr"))
      .select(col(idCol), col("len"))
  }
}
