package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.MinHashSignatureExpr

/** Text-pipeline primitives for large-scale corpus processing.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * (split/transform/aggregate/xxhash64/...) so the hot path stays inside
  * whole-stage codegen — no Scala UDFs. At 100 TB these run as pure
  * map-side expressions: no shuffle, no driver involvement.
  */
object TextFunctions {

  /** Whitespace tokens of a trimmed document. */
  def tokens(text: Column): Column = split(trim(text), " +")

  /** Whitespace-normalized text (collapse runs, trim). */
  def normalizeWs(text: Column): Column =
    regexp_replace(trim(text), "\\s+", " ")

  /** Unicode NFC canonical composition (native kernel — composed and
    * decomposed codepoint sequences hash identically after this).
    */
  def nfcNormalize(text: Column): Column =
    org.apache.spark.sql.graft.NfcNormalizeExpr(text)

  /** Token n-gram shingles: `n` consecutive tokens joined by a space.
    * Documents with fewer than `n` tokens yield a single shingle of the
    * whole text, so every doc lands in at least one dedup bucket.
    * Native kernel ([[org.apache.spark.sql.graft.ShinglesExpr]]); its
    * HOF twin, test-scope `HofTwins.shinglesOfTokensHof`, is the
    * spec-pinned reference.
    */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(tokens(text), n)

  /** Same as [[shingles]] but over an existing token-array column. */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    org.apache.spark.sql.graft.TextKernelExprs.shingles(toks, n, distinct = false)

  /** `array_distinct(shingles(text, n))` fused into the kernel's one
    * pass (first-occurrence order, like array_distinct).
    */
  def distinctShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.TextKernelExprs.shingles(tokens(text), n, distinct = true)

  /** MinHash signature: array of `k` minimums of derived hashes over the
    * shingle set. Each shingle string is xxhash64'd ONCE (native
    * [[org.apache.spark.sql.graft.ArrayXxh64Expr]] kernel — the old
    * interpreted `transform(array_distinct(...), xxhash64)` dominated
    * every signature stage); the k derived hashes are multiply-add
    * permutations computed in a single codegen'd pass (see
    * [[MinHashSignatureExpr]]). The previous array_distinct is dropped:
    * min over a multiset equals min over its set, so duplicate shingle
    * hashes cannot change any signature slot. Pure map-side.
    */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    MinHashSignatureExpr.ofHashes(
      org.apache.spark.sql.graft.TextKernelExprs.arrayXxh64(shingleArr), k)

  /** LSH band keys from a minhash signature: hash of each contiguous
    * `rowsPerBand`-slice. Two docs collide in a band iff that slice of
    * their signatures is identical. Native one-pass kernel; test-scope
    * `HofTwins.bandKeysHof` is TextKernelSpec's bit-identity reference.
    */
  def bandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(
      org.apache.spark.sql.graft.BandKeysExpr(
        org.apache.spark.sql.graft.Bridge.expression(signature), bands, rowsPerBand))

  /** Positional agreement count of two MinHash signatures (the LSH
    * Jaccard estimator's numerator). Native one-pass kernel
    * ([[org.apache.spark.sql.graft.ZipEqCountExpr]]); test-scope
    * `HofTwins.zipEqCountHof` is TextKernelSpec's bit-identity reference.
    */
  def zipEqCount(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.TextKernelExprs.zipEqCount(a, b)

  /** 64-bit SimHash over a token array: per bit, sum +1/-1 weighted by
    * whether that bit of xxhash64(token) is set; the sign of each sum is
    * the fingerprint bit. Native one-pass kernel
    * ([[org.apache.spark.sql.graft.SimHash64Expr]]).
    */
  def simhash64(toks: Column): Column =
    simhash64OfHashes(org.apache.spark.sql.graft.TextKernelExprs.arrayXxh64(toks))

  /** SimHash from a pre-hashed token array (native kernel). */
  def simhash64OfHashes(hashes: Column): Column =
    org.apache.spark.sql.graft.TextKernelExprs.simhash64(hashes)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Σ over distinct tokens of c·⌊ln(c)·1e6⌋ (c = the token's count) —
    * the integer numerator of per-doc Shannon entropy (d56). A
    * run-counting fold over the SORTED token array: sort is O(n log n)
    * and the fold touches each token once, vs recounting the full
    * array per distinct token (O(distinct·n) — quadratic on a
    * high-diversity document; a 100k-token doc pays ~10⁹ comparisons
    * in one task). State carries (prev token, current run length,
    * accumulated sum); `finish` folds in the last run. run=0 marks
    * "no previous token" so an empty-string token can't collide with
    * the zero state. Same integer terms as the naive form, so any
    * oracle summing c·⌊ln(c)·1e6⌋ per distinct token matches exactly.
    */
  def entropyTermsMicro(toks: Column): Column =
    org.apache.spark.sql.graft.TextKernelExprs.entropyTermsMicro(toks)

  /** Oracle-portable 32-bit md5-prefix hash of every element of a
    * string array — the winnowing pipeline's per-gram fingerprint
    * (native kernel; test-scope `HofTwins.md5Prefix32HashesHof` is
    * TextKernelSpec's bit-identity reference).
    */
  def md5Prefix32Hashes(arr: Column): Column =
    org.apache.spark.sql.graft.TextKernelExprs.arrayMd5Prefix32(arr)

  /** Hex-digit values (0..15) of the first 15 hex chars of md5(s): a
    * 60-bit token hash computable bit-for-bit in any engine with md5 —
    * the oracle-portable twin of xxhash64 (60 bits keeps every derived
    * value in positive BIGINT range on both engines).
    */
  def md5Digits15(s: Column): Column =
    transform(slice(split(md5(s), ""), 1, 15),
      c => when(ascii(c) >= 97, ascii(c) - 87).otherwise(ascii(c) - 48))

  /** 60-bit md5-nibble SimHash straight from the token array — the
    * native one-pass kernel ([[org.apache.spark.sql.graft.SimHashMd5Expr]])
    * fusing [[md5Digits15]]-per-token + [[simhashMd5OfDigits]]. The HOF
    * twin below is the spec-pinned bit-identity reference.
    */
  def simhashMd5(toks: Column): Column =
    org.apache.spark.sql.graft.TextKernelExprs.simhashMd5(toks)

  /** 60-bit SimHash from a pre-materialized array<array<int>> of
    * md5-digit values ([[md5Digits15]] per token). Callers MUST stage
    * the digit array in its own projection (as HOF-fold consumers do
    * for the hash array): the 60 per-bit folds reference it
    * 60×, and CollapseProject keeps the stage boundary because the
    * producer is non-cheap — inlining would recompute every md5 60×.
    * (Kernel twin: [[simhashMd5]]; this form remains the TextKernelSpec
    * reference.)
    */
  def simhashMd5OfDigits(tokDigits: Column): Column = {
    val bitCols = (0 until 60).map { i =>
      val digitIdx = i / 4 + 1
      val mask = 1 << (i % 4)
      val cnt = aggregate(tokDigits, lit(0),
        (acc, d) => acc + when(element_at(d, digitIdx).bitwiseAND(lit(mask)) > 0, 1).otherwise(-1))
      when(cnt > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Rolling fingerprint of the token sequence (order-sensitive,
    * unlike the shingle-set hashes): left fold chaining each token's
    * hash into the accumulator. Overflow-free under ANSI mode.
    */
  /** Order-sensitive document fingerprint: Rabin-Karp polynomial fold
    * over per-token xxhash64 values, acc = acc*31 + h (wrapping Long
    * arithmetic, i.e. mod 2^64 — a codegen'd expression, since ANSI
    * mode rejects the wrapping multiply in `aggregate`).
    * Oracle-checkable: DuckDB re-folds the chain from the dumped
    * token-hash arrays with HUGEINT modular arithmetic (d11).
    */
  def rollingFingerprint(toks: Column): Column =
    org.apache.spark.sql.graft.RabinFingerprintExpr.ofHashes(tokenHashes(toks))

  /** Per-token xxhash64 array — the d11 aux dump DuckDB re-folds
    * (native kernel; values are the `xxhash64()` builtin's).
    */
  def tokenHashes(toks: Column): Column =
    org.apache.spark.sql.graft.TextKernelExprs.arrayXxh64(toks)

  /** Content fingerprint: md5 of whitespace-normalized lowercase text.
    * Matches DuckDB's md5() for the oracle.
    */
  def contentFingerprint(text: Column): Column =
    md5(normalizeWs(lower(text)).cast("binary"))

  /** Tiny n-gram/stopword language guesser. Scores each language by
    * marker-token hits over the tokenized text and returns the argmax
    * (deterministic tie-break by score then language order).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "los", "es"),
    "fr" -> Seq("le", "les", "des", "est"),
    "de" -> Seq("der", "die", "und", "ist"),
    "zh" -> Seq("的", "是", "了"))

  def langGuess(toks: Column): Column =
    org.apache.spark.sql.graft.TextKernelExprs.langGuess(toks, langMarkers)
}
