package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level language-model statistics for training-data selection:
  *
  *   - [[importanceWeights]] — DSIR (Data Selection via Importance
  *     Resampling, Xie et al., NeurIPS 2023): score every document by
  *     how much more likely its hashed-n-gram features are under a
  *     TARGET distribution (e.g. a trusted high-quality slice) than
  *     under the RAW corpus distribution; select the top-weighted docs.
  *   - [[unigramLogProb]] — CCNet-style LM quality gating with the
  *     corpus' own unigram model standing in for the external LM:
  *     documents whose mean token log-probability is far below typical
  *     are boilerplate/garbage candidates.
  *
  * Determinism across engines (the DuckDB oracle recomputes both ends
  * to the bit): every per-bucket/per-token log is quantized ONCE to
  * integer micro-units — floor(ln(p) * 1e6) of an identical IEEE
  * double — and all downstream arithmetic (doc weights, gates, ranks)
  * is exact 64-bit integer math, so no float summation-order drift can
  * flip a rank or a gate.
  *
  * 100 TB shape: features are generated map-side (explode of unigrams
  * + adjacent bigrams) and the corpus is scanned ONCE — the per-(doc,
  * feature) count table is the only data-sized shuffle and is
  * persisted (SketchRegistry-tracked) so the bucket/vocab statistics
  * fold IT, not the raw corpus; the nBuckets- or vocab-sized score
  * tables broadcast back. Selection is top-k (TakeOrdered), never a
  * global sort.
  */
object CorpusLm {

  /** Whitespace tokens — the corpus tokenizer used across TextFunctions. */
  private def toks(text: Column): Column = split(trim(text), " +")

  /** floor(ln(num/den) * 1e6) as a long, num/den taken to double first —
    * the one float op, quantized immediately.
    */
  private def lnMicro(num: Column, den: Column): Column =
    floor(log(num.cast("double") / den.cast("double")) * lit(1000000.0)).cast("long")

  /** DSIR importance weights from hashed n-gram (unigram + adjacent
    * bigram) features bucketed by md5 into `nBuckets` buckets.
    *
    * weight(doc) = Σ_b c_b(doc) · [ln p̂_target(b) − ln p̂_raw(b)]
    * with add-one smoothing on both bucket distributions, in integer
    * micro-units. `isTarget` marks the rows of the target slice; the
    * raw distribution is the whole input.
    *
    * Returns (idCol, weight_micro) for the `n` highest-weight docs
    * (weight desc, id asc — the paper's top-k selection heuristic;
    * its Gumbel-noise resampling variant is this plus a seeded
    * perturbation of weight_micro).
    */
  def importanceWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      nBuckets: Int = 64,
      n: Int = 50): DataFrame = {
    val base = SkewTools.spreadIfNarrow(df, col(idCol))
      .select(col(idCol), isTarget.as("__is_t"), toks(col(textCol)).as("__t"))
    val bigrams = when(
      size(col("__t")) >= 2,
      expr("transform(sequence(0, size(__t) - 2), i -> concat(__t[i], ' ', __t[i + 1]))"))
      .otherwise(array().cast("array<string>"))
    val feats = base
      .select(col(idCol), col("__is_t"), explode(concat(col("__t"), bigrams)).as("__f"))
      .withColumn(
        "__b",
        (conv(substring(md5(col("__f")), 1, 4), 16, 10).cast("int") % nBuckets))
      .drop("__f")

    // ONE corpus pass + ONE data-sized shuffle: per-(doc, bucket)
    // counts, persisted (SketchRegistry-tracked) because both the
    // bucket-stats branch and the weights branch read it — without the
    // pin each branch would re-scan and re-explode the corpus
    val perDoc = SketchRegistry.track(
      feats.groupBy(col(idCol), col("__is_t"), col("__b"))
        .agg(count(lit(1)).as("__c"))
        .persist())

    // bucket stats fold the (doc, bucket) table, not raw features;
    // nBuckets rows, totals derived from them — no further corpus scans
    val stats = perDoc.groupBy(col("__b")).agg(
      sum(when(col("__is_t"), col("__c")).otherwise(lit(0L))).as("n_t"),
      sum(col("__c")).as("n_r"))
    val totals = stats.agg(sum(col("n_t")).as("tot_t"), sum(col("n_r")).as("tot_r"))
    val scores = stats.crossJoin(broadcast(totals))
      .select(
        col("__b"),
        (lnMicro(col("n_t") + 1, col("tot_t") + nBuckets) -
          lnMicro(col("n_r") + 1, col("tot_r") + nBuckets)).as("__s"))

    val weights = perDoc
      .join(broadcast(scores), "__b")
      .groupBy(col(idCol))
      .agg(sum(col("__c") * col("__s")).as("weight_micro"))

    weights.orderBy(col("weight_micro").desc, col(idCol).asc).limit(n)
  }

  /** Per-document unigram log-probability under the corpus' own MLE
    * unigram model, plus the quality gate `keep` — mean token
    * log-prob above `meanLpMicroFloor` micro-nats (compared in exact
    * integer math: Σlp > floor · n_tokens).
    *
    * Returns (idCol, n_tokens, sum_lp_micro, keep) for every doc.
    */
  def unigramLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      meanLpMicroFloor: Long = -3450000L): DataFrame = {
    val tok = SkewTools.spreadIfNarrow(df, col(idCol))
      .select(col(idCol), explode(toks(col(textCol))).as("__tok"))
    // ONE corpus pass: per-(doc, token) counts, persisted because both
    // the vocab-frequency branch and the per-doc scoring branch read it
    val perDoc = SketchRegistry.track(
      tok.groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__c")).persist())
    val freq = perDoc.groupBy(col("__tok")).agg(sum(col("__c")).as("__cnt"))
    val total = freq.agg(sum(col("__cnt")).as("__tot"))
    val lp = freq.crossJoin(broadcast(total))
      .select(col("__tok"), lnMicro(col("__cnt"), col("__tot")).as("__lp"))

    perDoc
      .join(broadcast(lp), "__tok")
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).cast("long").as("n_tokens"),
        sum(col("__c") * col("__lp")).as("sum_lp_micro"))
      .withColumn("keep", col("sum_lp_micro") > lit(meanLpMicroFloor) * col("n_tokens"))
  }

  /** Per-source token-distribution DRIFT against the whole corpus:
    * KL(source ‖ corpus) over unigram distributions, the standard
    * mixture-monitoring statistic for multi-source training pipelines
    * (which source's text is most unlike the blend — a feed gone wrong,
    * a scrape that switched language, a template flood — shows up as a
    * KL spike long before any downstream metric moves).
    *
    * KL(s‖corpus) · n_s = Σ_w c_sw · ln( (c_sw · N) / (n_s · c_w) )
    * with c_sw the token count in source s, n_s its total, c_w the
    * corpus-wide token count, N the corpus total. Every log-ratio is
    * quantized ONCE to integer micro-nats (the object's determinism
    * contract) and the per-source reduction is an exact integer sum —
    * reported UN-normalized as kl_sum_micro beside n_tokens, so the
    * oracle needs no division rule and the caller can normalize any
    * way it likes.
    *
    * 100 TB shape: the (source, token) count table is the only
    * data-sized shuffle (one corpus pass, partial-agg map-side;
    * persisted — three statistics branches fold IT); the per-source
    * totals broadcast (|sources| rows), the per-token join is
    * vocab-sized, the corpus total is a broadcast scalar. The integer
    * products c_sw·N and n_s·c_w stay below 2^53 for exact
    * double conversion up to ~10^15-token corpora per the usual
    * micro-nat bound; beyond that both engines round identically
    * (IEEE nearest), so cross-engine agreement holds regardless.
    *
    * Returns one row per source: (source, n_tokens, kl_sum_micro).
    */
  def sourceDriftKl(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val st = SketchRegistry.track(
      SkewTools.spreadIfNarrow(df, col(textCol))
        .select(col(sourceCol).as("source"), explode(toks(col(textCol))).as("__tok"))
        .groupBy(col("source"), col("__tok")).agg(count(lit(1)).as("__c"))
        .persist())
    val perSource = st.groupBy(col("source")).agg(sum(col("__c")).as("__ns"))
    val perToken = st.groupBy(col("__tok")).agg(sum(col("__c")).as("__cw"))
    val total = perSource.agg(sum(col("__ns")).as("__n"))
    st
      .join(perToken, "__tok")
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(total))
      .select(col("source"), col("__c"),
        lnMicro(col("__c") * col("__n"), col("__ns") * col("__cw")).as("__lr"))
      .groupBy(col("source"))
      .agg(
        sum(col("__c")).cast("long").as("n_tokens"),
        sum(col("__c") * col("__lr")).cast("long").as("kl_sum_micro"))
  }

  /** Zipf slope per source: the least-squares slope of ln(count) vs
    * ln(rank) over the source's token frequency table — healthy
    * natural text sits near −1, while templated or machine-generated
    * sources bend the curve (flat head = keyword stuffing, cliff
    * tail = fixed-vocabulary boilerplate). The five regression sums
    * fold integer milli-log terms (the same quantize-once recipe as
    * the KL drift), so the statistic is associative and
    * engine-exact: rank by (count desc, token asc),
    * x = ⌊ln(rank)·1e3⌋, y = ⌊ln(count)·1e3⌋ as BIGINT, slope =
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) computed once in double from
    * the exact integer sums. One (source, token) shuffle; the
    * frequency table is vocabulary-sized, so the per-source rank
    * window is bounded regardless of corpus size.
    *
    * Returns one row per source: (source, n_terms, zipf_slope).
    */
  def zipfSlope(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val st = SkewTools.spreadIfNarrow(df, col(textCol))
      .select(col(sourceCol).as("source"), explode(toks(col(textCol))).as("__tok"))
      .groupBy(col("source"), col("__tok")).agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("__c").desc, col("__tok").asc)
    st.withColumn("__rank", row_number().over(w))
      .select(col("source"),
        floor(log(col("__rank").cast("double")) * 1000).cast("long").as("__x"),
        floor(log(col("__c").cast("double")) * 1000).cast("long").as("__y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .select(col("source"), col("n_terms"),
        // a single-distinct-token source has x ≡ 0, so the regression
        // denominator is 0; nullif keeps the engines agreeing on NULL
        // (Spark's non-ANSI divide nulls, DuckDB's IEEE divide infs)
        ((col("n_terms") * col("__sxy") - col("__sx") * col("__sy")).cast("double") /
          nullif((col("n_terms") * col("__sxx") - col("__sx") * col("__sx")).cast("double"),
            lit(0.0)))
          .as("zipf_slope"))
  }

  /** Per-document BIGRAM log-probability under the corpus' own MLE
    * bigram model — the next modeling step up from [[unigramLogProb]]
    * (a unigram model cannot see scrambled word order; a bigram model
    * scores "the quick brown fox" above "fox the brown quick" even
    * when both draw from the same vocabulary).
    *
    * The whole model derives from ONE corpus pass: adjacent token
    * pairs are generated map-side (slice + zip, no positions
    * shuffled), the per-(doc, w1, w2) count table is the only
    * data-sized shuffle (persisted; both the model branch and the
    * scoring branch fold it), and the bigram/context statistics are
    * self-consistent aggregates of that table — context count
    * C(w1) = Σ_w2 C(w1,w2), so no second tokenization pass. The lp
    * join keys on (w1, w2), the same partitioning the count table
    * already has.
    *
    * lp(w2|w1) = floor(ln(C(w1,w2)/C(w1)) · 1e6) — quantized once,
    * integer math after (the determinism contract in the object doc).
    * Gate: mean pair log-prob above `meanLpMicroFloor` micro-nats,
    * compared exactly (Σlp > floor · n_pairs); docs with < 2 tokens
    * have no pairs and pass vacuously.
    *
    * Returns (idCol, n_pairs, sum_lp_micro, keep) for every doc.
    */
  def bigramLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      meanLpMicroFloor: Long = -3450000L): DataFrame = {
    val t = SkewTools.spreadIfNarrow(df, col(idCol))
      .select(col(idCol), toks(col(textCol)).as("__t"))
    val pairs = t
      .filter(size(col("__t")) >= 2)
      .select(col(idCol),
        explode(arrays_zip(
          slice(col("__t"), lit(1), size(col("__t")) - 1),
          slice(col("__t"), lit(2), size(col("__t")) - 1))).as("__p"))
      .select(col(idCol), col("__p.0").as("__w1"), col("__p.1").as("__w2"))
    val perDocPair = SketchRegistry.track(
      pairs.groupBy(col(idCol), col("__w1"), col("__w2"))
        .agg(count(lit(1)).as("__c")).persist())
    // persisted: the bigram table feeds its own context rollup AND the
    // log-prob join — lazy, both references re-ran the (w1, w2)
    // aggregate over the per-doc pair table (r17 continuation profile:
    // the two ~0.5 s bigram stages appeared twice in the d44 job list)
    val bigram = SketchRegistry.track(
      perDocPair.groupBy(col("__w1"), col("__w2"))
        .agg(sum(col("__c")).as("__c12")).persist())
    val context = bigram.groupBy(col("__w1")).agg(sum(col("__c12")).as("__c1"))
    val lp = bigram.join(context, "__w1")
      .select(col("__w1"), col("__w2"), lnMicro(col("__c12"), col("__c1")).as("__lp"))
    val scored = perDocPair
      .join(lp, Seq("__w1", "__w2"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__c")).cast("long").as("n_pairs"),
        sum(col("__c") * col("__lp")).cast("long").as("sum_lp_micro"))
    df.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("sum_lp_micro"), lit(0L)).as("sum_lp_micro"))
      .withColumn("keep",
        col("n_pairs") === 0L ||
          col("sum_lp_micro") > lit(meanLpMicroFloor) * col("n_pairs"))
  }

  /** CCNet-style perplexity BUCKETS (Wenzek et al., "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data", LREC
    * 2020): stratify documents into head / middle / tail thirds by
    * mean log-probability under the corpus' own unigram model — the
    * standard coarse quality split before sampling/mixing (CCNet
    * scores with an external KenLM; the stratification rule is the
    * same with [[unigramLogProb]]'s self-contained scoring).
    *
    * Exactness + scale shape (the d50 length-quantile pattern): the
    * ranking key is the mean log-prob floored to MILLI-nats —
    * floordiv(sum_lp_micro, n_tokens·1000), pure integer via the pmod
    * identity — whose value RANGE is bounded by the model itself
    * (≥ ln(1/Σtokens) ≈ -30e3 milli-nats at a trillion tokens), so the
    * score histogram is bounded regardless of corpus size. The two
    * bucket thresholds come from one cumulative window over HISTOGRAM
    * rows only and broadcast back for a map-side CASE. Assignment is
    * VALUE-based (ties share a score, hence a bucket): head = score ≥
    * t_head, the highest score whose descending cumulative count
    * reaches ⌈n/3⌉; tail = score < t_tail (⌈2n/3⌉ rule); middle
    * between — no per-doc global rank, no single-reducer window.
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val denom = col("n_tokens") * lit(1000L)
    // persisted: the per-doc scores feed BOTH the histogram/threshold
    // branch and the final bucket assignment — without it each branch
    // re-runs the scoring join over the corpus (r17 profile: d52 ran
    // 33 jobs, the scoring subtree twice; guide §5 "reused and
    // recomputing is more expensive"). One (id, score) row per doc.
    val scored = SketchRegistry.track(unigramLogProb(df, idCol, textCol)
      .select(col(idCol),
        ((col("sum_lp_micro").cast("long") - pmod(col("sum_lp_micro").cast("long"), denom))
          / denom).cast("long").as("score_milli"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val hist = scored.groupBy(col("score_milli")).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(
      Window.orderBy(col("score_milli").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cuts = cum.crossJoin(broadcast(hist.agg(sum(col("cnt")).cast("long").as("n"))))
      .agg(
        max(when(col("cum") >= ((col("n") + 2) / lit(3)).cast("long"),
          col("score_milli"))).as("t_head"),
        max(when(col("cum") >= ((col("n") * 2 + 2) / lit(3)).cast("long"),
          col("score_milli"))).as("t_tail"))
    scored.crossJoin(broadcast(cuts))
      .select(col(idCol), col("score_milli"),
        when(col("score_milli") >= col("t_head"), lit("head"))
          .when(col("score_milli") >= col("t_tail"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }
}
