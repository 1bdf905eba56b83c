package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions._

/** Corpus deduplication operators, designed for 100 TB scale:
  *
  *  - exact: one hash-shuffle on a 16-byte fingerprint (never on the
  *    full text), then min-id per group.
  *  - MinHash + LSH: signatures computed map-side as pure expressions,
  *    candidate generation via an explode-on-band-key self-join — the
  *    classic shingle→minhash→band→bucket-join pipeline. Only docs
  *    sharing a band collide; the join key is (band, 64-bit hash) so
  *    bucket sizes stay tiny and skew-resistant.
  *  - SimHash: 64-bit fingerprint, candidates via 4×16-bit band match,
  *    verified by Hamming distance.
  *  - n-gram Jaccard: exact verification on candidate pairs via
  *    shingle-set intersection sizes (explode + count), used standalone
  *    or as the verify stage after LSH.
  *
  * All stages are DataFrame transforms — no driver-side loops, no
  * collect; every shuffle key is a fixed-width hash.
  */
object Dedup {

  /** Exact dedup: group by content fingerprint (md5 of normalized
    * text), keep the lowest id. Returns (fp, n_copies, keeper).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), contentFingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper"))

  /** Rows surviving exact dedup (the keepers only). */
  def exactKeep(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactGroups(df, idCol, textCol)
      .select(col("keeper").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** The i<j pairs of every capped posting list: the one bucket → pairs
    * step of the LSH, shingle and winnowing chains below. `members`
    * holds one row per (bucket key, member); each pair is one row of
    * struct column `p` with the a-side `<payload>_a` fields, then the
    * b-side `<payload>_b` fields.
    *
    *  - Guard ([[keysWithin]]): buckets with df < 2 or df > `cap` are
    *    pruned by a fixed-width count aggregation + left_semi BEFORE
    *    any posting list is collected. collect_list has no size cap,
    *    so a hot key (a stopword shingle, a boilerplate cluster's band
    *    keys) would otherwise materialize its whole posting list in one
    *    aggregation buffer; df ≥ 2 also drops the singleton buckets,
    *    the bulk of a real corpus. A pair living only in an overfull
    *    bucket is missed: such docs are boilerplate exact dedup
    *    catches, and recall inside capped buckets is unchanged.
    *  - Pin: the reduce side of the key exchange explodes d members
    *    into d²/2 pairs, a fanout AQE's map-bytes-sized coalescer cannot
    *    see (it coalesced this few-MB shuffle to 4 tasks at local[32];
    *    r18 profile), so [[SkewTools.pinFanout]] fixes its partitions.
    *  - Collect and explode: members collect into ONE per-bucket sorted
    *    array and the pairs explode map-side, so the count agg, the semi
    *    join and the collect groupBy share one key exchange where a
    *    bucket self-join paid its own exchange + join (guide §2.4 "two
    *    operations keyed the same way share one exchange"; r17 VERDICT
    *    #5). sort_array orders members by their first payload column,
    *    the id (unique per bucket), so slice-from-i+2 enumerates
    *    exactly the a.id < b.id pairs.
    *
    * A single payload column is collected bare, never wrapped in a
    * struct. Callers score the pair in the projection after the
    * explode, so their pair-dedup shuffle carries the score, not the
    * sketches.
    */
  private[operators] def bucketPairs(members: DataFrame, keys: Seq[String],
      payload: Seq[String], cap: Int): DataFrame =
    pinnedPairs(members, keys, payload, Some(keysWithin(members, keys, cap)))

  /** The keys of `members` held by 2 to `cap` rows: [[bucketPairs]]'
    * df guard, for a caller that prunes before the pin.
    */
  private[operators] def keysWithin(members: DataFrame, keys: Seq[String],
      cap: Int): DataFrame =
    members.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= cap)
      .select(keys.map(col): _*)

  /** [[bucketPairs]] after its guard: pin, semi-join `kept` (when
    * given), collect, explode.
    */
  private[operators] def pinnedPairs(members: DataFrame, keys: Seq[String],
      payload: Seq[String], kept: Option[DataFrame]): DataFrame = {
    val pinned = SkewTools.pinFanout(members, keys.map(col): _*)
    val bare = payload.size == 1
    val member = if (bare) col(payload.head) else struct(payload.map(col): _*)
    def side(m: Column, s: String): Seq[Column] =
      payload.map(n => (if (bare) m else m.getField(n)).as(s"${n}_$s"))
    kept.fold(pinned)(pinned.join(_, keys, "left_semi"))
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(member)).as("ms"))
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + 2, size(col("ms"))),
          y => struct(side(x, "a") ++ side(y, "b"): _*))))).as("p"))
  }

  /** MinHash-LSH candidate pairs with their estimated (signature-
    * agreement) similarity. `threshold` filters on the fraction of the
    * k minhashes that agree — an unbiased Jaccard estimate.
    *
    * numHashes = bands * rowsPerBand.
    *
    * `maxBandDf` is the band-bucket capacity guard (the shape
    * [[bandedHammingPairs]] and winnowing already use): the band key
    * is a 64-bit hash of a rowsPerBand-minhash slice, so *random*
    * collisions are negligible — but a cluster of d near-identical
    * template documents (one token apart, surviving exact dedup)
    * shares ALL its band keys and would self-join O(d²) per band ×
    * `bands`. Buckets above the cap are pruned BEFORE the self-join
    * by a count aggregation + semi join; pairs living only in an
    * overfull bucket are boilerplate clusters better handled by exact
    * dedup, and recall inside capped buckets is unchanged. df ≥ 2
    * additionally drops the (common, hash-keyed) singleton buckets.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.7,
      maxBandDf: Int = 1000): DataFrame = {
    val k = bands * rowsPerBand
    // Persist the signatures: both sides of the self-join (and the band
    // explode) would otherwise re-execute the full shingle+hash lineage.
    // At cluster scale this is the standard "materialize the sketch
    // before the pairwise stage" step (persist → MEMORY_AND_DISK; a
    // production pipeline would checkpoint to parquet). Tracked in
    // SketchRegistry — the consumer releases it after draining the
    // result, since the sketch must stay alive while the returned
    // plan still reads it.
    val sigs = SketchRegistry.track(SkewTools.spreadIfNarrow(df, col(idCol))
      .select(col(idCol).as("id"),
        minhashSignature(shingles(col(textCol), shingleSize), k).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val allBanded = sigs
      .select(col("id"), col("sig"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
    // est is the native zipEqCount kernel over the pair's signatures
    bucketPairs(allBanded, Seq("band", "key"), Seq("id", "sig"), maxBandDf)
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        (graft.functions.TextFunctions.zipEqCount(col("p.sig_a"), col("p.sig_b"))
          .cast("double") / lit(k)).as("est"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("est")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** The corpus' MinHash band index as a DataFrame artifact:
    * (band, key, corpus id), distinct — the build-once half of online
    * near-dup gating (persist it to parquet like the IVF-PQ index;
    * the index stays data-sized and DISTRIBUTED, nothing collects).
    * A new document collides with the corpus iff one of its band keys
    * appears here — the same banding probability contract as
    * [[minhashCandidates]], served as a join instead of a self-join.
    *
    * The cap is applied AT BUILD TIME so the persisted artifact is
    * bounded: any (band, key) bucket holding more than `maxBandDf`
    * corpus ids is dropped wholesale (a probe that would only hit an
    * overfull boilerplate bucket reports no collision — run exact
    * dedup on the corpus first). Unlike [[minhashCandidates]],
    * singleton buckets are KEPT: a probe doc legitimately collides
    * with a single corpus doc.
    */
  def bandIndexOf(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      maxBandDf: Int = 1000): DataFrame = {
    val k = bands * rowsPerBand
    val idx = SkewTools.spreadIfNarrow(corpus, col(idCol))
      .select(col(idCol).as("corpus_id"),
        minhashSignature(shingles(col(textCol), shingleSize), k).as("sig"))
      .select(col("corpus_id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("corpus_id"))
      .distinct()
    val keepBuckets = idx.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxBandDf)
      .select(col("band"), col("key"))
    idx.join(keepBuckets, Seq("band", "key"), "left_semi")
  }

  /** Band-collision candidates of `docs` against a prebuilt
    * [[bandIndexOf]] index: every (doc, corpus doc) pair sharing at
    * least one band, with the number of distinct colliding bands as
    * the match strength. Map-side signature compute, one equi join on
    * (band, key) — the batch twin of
    * [[graft.streaming.Streams.nearDupGateStream]].
    *
    * The bucket-capacity guard lives in [[bandIndexOf]] (build time),
    * which bounds this join's fanout to `bands × maxBandDf` rows per
    * probe document — no probe-side cap is needed.
    */
  def bandCollisions(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bandIndex: DataFrame,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    docs
      .select(col(idCol).as("id"),
        minhashSignature(shingles(col(textCol), shingleSize), k).as("sig"))
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .join(bandIndex, Seq("band", "key"))
      .groupBy(col("id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_bands"))
  }

  // ---- persisted band-index lifecycle: build once, probe many ----
  //
  // The text-near-dup twin of IvfPqIndex's artifact contract
  // (IvfPqIndex.buildIndex/openIndex): the corpus' band index is a
  // plain parquet artifact any later job can open, the banding
  // parameters ride along so a probe session cannot silently probe
  // with mismatched banding, and the index stays a lazy DISTRIBUTED
  // parquet scan — opening reads only the one-row meta to the driver.

  /** Build the [[bandIndexOf]] index of `corpus` and persist it at
    * `path`:
    *   path/bands  (band, key, corpus_id)  — data-sized, distributed
    *   path/meta   (shingle_size, bands, rows_per_band, max_band_df)
    * The build-time `maxBandDf` cap bounds the artifact (overfull
    * boilerplate buckets are dropped wholesale).
    */
  def buildBandIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      maxBandDf: Int = 1000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    bandIndexOf(corpus, idCol, textCol, shingleSize, bands, rowsPerBand, maxBandDf)
      .write.mode("overwrite").parquet(s"$path/bands")
    writeBandMeta(spark, path, shingleSize, bands, rowsPerBand, maxBandDf,
      appends = 0, bandsDir = "bands")
    // a rebuild over a previously-compacted artifact resets the
    // pointer — drop the now-orphaned version dirs
    pruneVersionedDirs(spark, path, "bands", keep = Set("bands"))
  }

  /** The one-row meta artifact; `appends` counts append batches since
    * the last build/compaction — the staleness signal for the
    * per-batch df cap.
    */
  private def writeBandMeta(spark: org.apache.spark.sql.SparkSession, path: String,
      shingleSize: Int, bands: Int, rowsPerBand: Int, maxBandDf: Int,
      appends: Int, bandsDir: String): Unit = {
    import spark.implicits._
    Seq((shingleSize, bands, rowsPerBand, maxBandDf, appends, bandsDir))
      .toDF("shingle_size", "bands", "rows_per_band", "max_band_df", "appends",
        "bands_dir")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** A persisted band index opened for probing: [[collisions]] and
    * the streaming twin read nothing but the artifact — the raw
    * corpus is not needed (nor available) at probe time.
    */
  final class OpenedBandIndex(
      val shingleSize: Int,
      val bands: Int,
      val rowsPerBand: Int,
      val maxBandDf: Int,
      val appends: Int,
      val bandsDir: String,
      val index: DataFrame) {

    /** Batch probe — [[bandCollisions]] with the index's own banding
      * parameters (mismatched probe banding is impossible by
      * construction).
      */
    def collisions(docs: DataFrame, idCol: String, textCol: String): DataFrame =
      bandCollisions(docs, idCol, textCol, index, shingleSize, bands, rowsPerBand)
  }

  /** Incremental band-index maintenance: band NEW documents with the
    * persisted index's own banding parameters and append — no rebuild,
    * no touch of existing rows (the text twin of
    * [[IvfPqIndex.appendToIndex]]). The df cap applies per append
    * batch, so a band key's bucket is bounded by cap × (appends+1) in
    * the worst case — [[compactBandIndex]] re-applies the cap globally
    * and resets the meta's `appends` staleness counter. Caller appends
    * each doc id at most once; banding is deterministic, so
    * re-appending would only duplicate rows (compaction also drops
    * those), never corrupt them.
    */
  def appendToBandIndex(newDocs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = newDocs.sparkSession
    val opened = openBandIndex(spark, path)
    bandIndexOf(newDocs, idCol, textCol, opened.shingleSize, opened.bands,
        opened.rowsPerBand, opened.maxBandDf)
      .write.mode("append").parquet(s"$path/${opened.bandsDir}")
    writeBandMeta(spark, path, opened.shingleSize, opened.bands,
      opened.rowsPerBand, opened.maxBandDf, opened.appends + 1, opened.bandsDir)
  }

  /** Re-apply the df cap GLOBALLY over the accumulated bands artifact
    * and reset the staleness counter: append-only maintenance bounds a
    * bucket only per batch (worst case cap × (appends+1) rows), so an
    * operator watching [[OpenedBandIndex.appends]] runs this
    * periodically to restore the build-time bound. Also deduplicates
    * rows a replayed append may have double-written.
    *
    * The swap is VERSIONED, never in-place: the compacted artifact
    * lands in a fresh `bands_vN` sibling, the meta's `bands_dir`
    * pointer flips to it, and only versions OLDER than the previous
    * one are pruned — so an open racing the compaction resolves the
    * pointer to either the old or the new artifact, both of which
    * exist (a delete-then-rename swap had an ENOENT window between
    * the delete and the rename).
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val opened = openBandIndex(spark, path)
    val idx = opened.index.distinct()
    val keep = idx.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= opened.maxBandDf)
      .select(col("band"), col("key"))
    val curDir = opened.bandsDir
    val nextDir = nextVersionedDir("bands", curDir)
    idx.join(keep, Seq("band", "key"), "left_semi")
      .write.mode("overwrite").parquet(s"$path/$nextDir")
    // flip the pointer; readers that already resolved curDir keep a
    // live directory until the compaction AFTER this one
    writeBandMeta(spark, path, opened.shingleSize, opened.bands,
      opened.rowsPerBand, opened.maxBandDf, appends = 0, bandsDir = nextDir)
    pruneVersionedDirs(spark, path, "bands", keep = Set(curDir, nextDir))
  }

  /** bands → bands_v1 → bands_v2 → … (shared by the codes artifacts). */
  private[operators] def nextVersionedDir(base: String, current: String): String = {
    val n =
      if (current == base) 0
      else current.stripPrefix(s"${base}_v").toInt
    s"${base}_v${n + 1}"
  }

  /** Delete every `base`/`base_vN` sibling not in `keep` — the
    * previous version survives one compaction cycle for readers that
    * resolved the pointer just before the flip.
    */
  private[operators] def pruneVersionedDirs(spark: org.apache.spark.sql.SparkSession,
      path: String, base: String, keep: Set[String]): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      val versioned = name == base || (name.startsWith(s"${base}_v") &&
        name.stripPrefix(s"${base}_v").forall(_.isDigit))
      if (st.isDirectory && versioned && !keep.contains(name)) {
        try fs.delete(st.getPath, true) catch { case _: Throwable => }
      }
    }
  }

  /** Open a persisted band index: the one-row meta is read to the
    * driver; the bands table stays a lazy distributed parquet scan.
    * [[OpenedBandIndex.appends]] reports batches appended since the
    * last build/compaction — the per-batch-cap staleness signal.
    */
  def openBandIndex(spark: org.apache.spark.sql.SparkSession, path: String): OpenedBandIndex = {
    // head() of the ONE-row meta artifact — a bounded scalar read like
    // the IVF-PQ centroid loads, never result rows (PlanQualitySpec's
    // collect sweep stays in force for everything else in this file)
    val metaDf = spark.read.parquet(s"$path/meta")
    val meta = metaDf.head()
    // follow the bands_dir pointer (pre-r13 artifacts carry none: the
    // unversioned "bands" dir). If the pointed dir vanished under us —
    // a compaction pruned it between our meta read and this open —
    // one meta re-read lands on the current version.
    def dirOf(m: org.apache.spark.sql.Row, df: DataFrame): String =
      if (df.schema.fieldNames.contains("bands_dir")) m.getAs[String]("bands_dir")
      else "bands"
    val bandsDir = dirOf(meta, metaDf)
    val bandsDf =
      try spark.read.parquet(s"$path/$bandsDir")
      catch {
        case _: Throwable =>
          val refreshed = spark.read.parquet(s"$path/meta")
          spark.read.parquet(s"$path/${dirOf(refreshed.head(), refreshed)}")
      }
    new OpenedBandIndex(
      meta.getAs[Int]("shingle_size"),
      meta.getAs[Int]("bands"),
      meta.getAs[Int]("rows_per_band"),
      meta.getAs[Int]("max_band_df"),
      // pre-r12 artifacts carry no appends column — read as fresh
      if (metaDf.schema.fieldNames.contains("appends")) meta.getAs[Int]("appends") else 0,
      bandsDir,
      bandsDf)
  }

  /** Collision-recall audit of a persisted band index — the near-dup
    * twin of IvfPqIndex.recallAudit: for each sample document, how many
    * of its GROUND-TRUTH band collisions the serving index recovers.
    * Ground truth is an uncapped fresh banding of the CURRENT corpus
    * (the same shingle/band/row parameters, maxBandDf = ∞), so the
    * audit surfaces exactly what maintenance lost: per-batch cap
    * starvation (a boilerplate cluster bigger than the cap arriving in
    * ONE append batch loses its buckets wholesale), build-time capped
    * buckets, and compaction drops. Self-collisions (a probe doc
    * matching its own corpus row) are excluded from both sides.
    *
    * Returns (id, n_truth, n_hit) per sample document with at least one
    * ground-truth collision. Scale shape: the fresh banding is one
    * map-side corpus pass + the bucket count aggregation; both probe
    * joins carry only the bounded sample's exploded band keys — run it
    * on a schedule (or per append wave), not per record.
    */
  def collisionRecallAudit(opened: OpenedBandIndex, corpus: DataFrame,
      sampleDocs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val truthIndex = bandIndexOf(corpus, idCol, textCol, opened.shingleSize,
      opened.bands, opened.rowsPerBand, maxBandDf = Int.MaxValue)
    val truth = bandCollisions(sampleDocs, idCol, textCol, truthIndex,
        opened.shingleSize, opened.bands, opened.rowsPerBand)
      .filter(col("id") =!= col("corpus_id"))
      .select(col("id"), col("corpus_id"))
    val got = opened.collisions(sampleDocs, idCol, textCol)
      .filter(col("id") =!= col("corpus_id"))
      .select(col("id"), col("corpus_id"))
    val hits = truth.join(got, Seq("id", "corpus_id"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hit"))
    truth.groupBy(col("id")).agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("id"), "left")
      .select(col("id"), col("n_truth"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
  }

  /** Full near-dup pipeline: MinHash-LSH candidate generation verified
    * by exact n-gram Jaccard on the candidate pairs only — the 100 TB
    * shape (LSH prunes the O(n²) space; exact verification touches only
    * pairs that collided in some band).
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      estThreshold: Double = 0.5,
      jaccardThreshold: Double = 0.7,
      maxBandDf: Int = 1000): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, shingleSize, bands, rowsPerBand,
      estThreshold, maxBandDf)
    val sh = df.select(col(idCol).as("id"),
      distinctShingles(col(textCol), shingleSize).as("sh"))
    cands
      .join(sh.as("sa"), col("id_a") === col("sa.id"))
      .join(sh.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("jaccard",
        size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
          size(array_union(col("sa.sh"), col("sb.sh"))))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"))
  }

  /** SimHash near-dup pairs: fingerprint, band on 4×16-bit slices,
    * verify Hamming distance <= maxHamming.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      nBands: Int = 4,
      bandBits: Int = 16,
      maxBandDf: Int = 1000): DataFrame = {
    require(nBands * bandBits <= 64, "bands must fit the 64-bit fingerprint")
    val fp = df
      .select(col(idCol).as("id"), simhash64(tokens(col(textCol))).as("sim"))
    bandedHammingPairs(fp, nBands, bandBits, maxHamming, maxBandDf)
  }

  /** Oracle-portable SimHash pairs: 60-bit md5-derived fingerprints,
    * 4×15-bit bands. Bit-for-bit reproducible in DuckDB (md5 + integer
    * bit ops), so the whole pipeline is oracle-checkable; production
    * corpora use [[simhashPairs]] (xxhash64, cheaper per token).
    */
  def simhashPairsMd5(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBandDf: Int = 1000): DataFrame = {
    val fp = df
      .select(col(idCol).as("id"), simhashMd5(tokens(col(textCol))).as("sim"))
    bandedHammingPairs(fp, nBands = 4, bandBits = 15, maxHamming, maxBandDf)
  }

  /** Shared band-join + Hamming-verify stage over a (id, sim) frame.
    * The fingerprint frame is persisted: both sides of the self-join
    * would otherwise recompute the fingerprint lineage. Pair dedup is
    * an aggregation keyed on the pair (map-side partial) computed AFTER
    * the hamming distance so the shuffle carries one int, not two
    * fingerprints.
    *
    * `maxBandDf` is the bucket-capacity guard: a 15/16-bit band key
    * space is only 32-65k distinct values, so at corpus scale a
    * popular band value's posting list grows linearly with N and the
    * bucket self-join quadratically (the same asymptotics as the
    * winnowing fp join — inherent to simhash banding). Buckets larger
    * than the cap are dropped BEFORE the join via a fixed-width count
    * aggregation + semi join; a pair living only in an overfull bucket
    * is missed — at that bucket size the docs are near-identical
    * boilerplate that exact dedup already catches, and recall within
    * capped buckets is unaffected. df ≥ 2 also drops singleton
    * buckets before the join.
    */
  private def bandedHammingPairs(
      fp: DataFrame, nBands: Int, bandBits: Int, maxHamming: Int,
      maxBandDf: Int = 1000): DataFrame = {
    val mask = (1L << bandBits) - 1
    val cached = SketchRegistry.track(fp.persist(StorageLevel.MEMORY_AND_DISK))
    val allBanded = cached.select(col("id"), col("sim"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sim"), b * bandBits).bitwiseAND(mask).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("sim"), col("bk.band").as("band"), col("bk.key").as("key"))
    bucketPairs(allBanded, Seq("band", "key"), Seq("id", "sim"), maxBandDf)
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        hamming64(col("p.sim_a"), col("p.sim_b")).as("h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("h")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Embedding-cosine near-dup pairs: vectors in the same hyperplane
    * LSH bucket are scored pairwise; pairs above `minCosine` are
    * near-duplicates. The bucket join bounds the pair space the same
    * way banding does for MinHash — only same-bucket vectors meet.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      minCosine: Double,
      nPlanes: Int = 8,
      seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFunctions._
    val bucketed = SketchRegistry.track(
      df.select(col(idCol).as("id"), col(vecCol).as("v"),
        hyperplaneBucket(col(vecCol), dim, nPlanes, seed).as("bucket"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** Connected components over an undirected edge list — the final
    * stage of a near-dup pipeline: pair edges (from LSH / SimHash /
    * Jaccard) become cluster assignments, one canonical keeper per
    * cluster.
    *
    * Algorithm: iterative min-label propagation. Every node starts
    * labeled with its own id; each round replaces a node's label with
    * the minimum over itself and its neighbors. Converges in
    * O(cluster diameter) rounds — near-dup clusters are shallow (most
    * are pairs/triangles), so 2-4 rounds in practice; `maxIter` bounds
    * pathological chains. Each round is two hash-shuffles on the node
    * id (a groupBy min and a join) — no driver-side graph, scales to
    * billions of edges.
    *
    * One action per round: the eager `localCheckpoint` materializes
    * the new labels AND delivers the change count as an `observe()`
    * metric (CollectMetrics) on the same job — the old separate
    * compare-join-count tripled per-round latency on a big cluster.
    * The checkpoint also truncates lineage, which is load-bearing:
    * each round references the previous labels twice (neighbor-min
    * join + carry-through), so an untruncated plan doubles per round.
    * The previous round's checkpoint blocks are freed immediately, so
    * storage stays O(|V|) regardless of iteration count; the final
    * label frame is tracked in [[SketchRegistry]] for release after
    * the consumer drains it. (A production cluster run would use
    * reliable `checkpoint` to shared storage instead.)
    *
    * Returns (id, cluster) for every node that appears in an edge,
    * where cluster = min node id in the component.
    */
  def connectedComponents(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20): DataFrame = {
    // Materialize the edge list ONCE (eager local checkpoint, the
    // pageRank pattern): `sym` references it from three union branches
    // (forward, reversed, self-loop nodes), and each branch of a lazy
    // plan re-executes the upstream — for d16/d17/d65/d68 that upstream
    // is the whole LSH/Jaccard pair pipeline, re-run per branch (r17
    // profiling: the pair stages appeared 3× in one CC materialization).
    val e = SketchRegistry.track(
      edges.select(col(aCol).as("src"), col(bCol).as("dst"))
        .localCheckpoint(true))
    // Self-loops fold the "keep my own label" arm INTO the neighbor-min
    // aggregate: each round is ONE join + ONE aggregation instead of the
    // old join + aggregate + carry-through join — per-round label values
    // are identical (min over neighbors ∪ self == least(own, neighbor
    // min)), but a round costs half the stages, and on a shallow
    // near-dup graph (2-4 rounds) round-trip latency IS the cost
    // (optimization round r17; guide §2.4 — two operations keyed the
    // same way share one exchange).
    // The self-loop rows carry a marker: in the round aggregate the
    // marked row's label IS the node's previous label, so the
    // changed-rows convergence signal rides the same aggregate
    // (max over the exactly-one marked row) with no carry-through join
    // and no assumption about the id type.
    val sym0 = e.union(e.select(col("dst"), col("src")))
    val sym = sym0.withColumn("self", lit(false))
      .union(sym0.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst"), lit(true).as("self")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Round 1 folds into the first batch directly: against identity
    // labels (comp(x) = x) the label join is a no-op — the neighbor's
    // label IS `dst` — so the first round is min(dst) per src over
    // `sym` alone, and the initial distinct-nodes frame, its eager
    // localCheckpoint, and the first round's join all disappear
    // (r18; guide §1.2 step 1). The self-loop marker still yields
    // old_comp = dst = src, the identity previous label, so round-1
    // labels and the change count are bit-identical to the old loop.
    var cur: DataFrame = null
    try {
      var iter = 0
      var changed = 1L
      while (changed > 0 && iter < maxIter) {
        // THREE rounds compose lazily per driver round-trip: each round
        // references the previous labels exactly once, so the batched
        // plan stays linear. Per-round label values are untouched —
        // the batch only moves the materialization boundary. On a
        // shallow near-dup graph (2-4 rounds) the dominant cost is the
        // per-round job latency (r17 profile: d16/d17/d65/d68 ran
        // 24-32 jobs of ~50-200 ms; guide §1.2 step 1); r17 batched in
        // pairs, and the r18 A/B at sf0.1 showed 3-round batches save
        // one more checkpoint round-trip on the common 2-3-round
        // graphs (d17 2.80→2.17 s, d65 3.33→2.67, d68 3.19→2.34,
        // d16 flat; batching deeper trades idempotent extra rounds for
        // plan depth with no further win). When convergence lands
        // mid-batch the remaining rounds are computed redundantly but
        // idempotently (min over already-minimal labels), exactly like
        // the old loop's final no-change round.
        //
        // ONLY the batch's LAST round is observed. Propagation is
        // monotone (a fixpoint round stays a fixpoint), so the final
        // round's change count alone decides convergence — if the
        // first round already converged the second idempotently
        // reports 0. Observing the inner round would also be
        // UNRELIABLE: when AQE materializes it as an independent
        // query stage, that CollectMetrics' observed metrics are
        // dropped from the final execution and its Observation
        // resolves to an EMPTY map (live at sf0.01/sf0.1 — d71 threw
        // `key not found: changes`; sf0.001's broadcast-collapsed
        // plan hid it). Only the plan-root observation reports
        // reliably.
        val steps = math.min(3, maxIter - iter)
        val prev = cur
        var batch = cur
        val obs = org.apache.spark.sql.Observation(s"cc_changes_$iter")
        (0 until steps).foreach { s =>
          // name-based using-join: `batch` is now a LAZY round whose
          // lineage already contains `sym`, so dataframe-qualified
          // attributes (sym("dst")) would be ambiguous after the
          // analyzer deduplicates the self-referenced subtree
          val joined =
            if (batch == null) // fused round 1: identity labels, no join
              sym.select(col("src"), col("dst").as("comp"), col("self"))
            else sym.join(batch.withColumnRenamed("id", "dst"), Seq("dst"))
          val round = joined
            .groupBy(col("src"))
            .agg(min(col("comp")).as("comp"),
              max(when(col("self"), col("comp"))).as("old_comp"))
          val observed = if (s == steps - 1) {
            round.observe(obs, coalesce(
              sum(when(col("comp") =!= col("old_comp"), 1L).otherwise(0L)),
              lit(0L)).as("changes"))
          } else round
          batch = observed.select(col("src").as("id"), col("comp"))
        }
        cur = batch.localCheckpoint() // the batch's single action (eager)
        changed = obs.get("changes").asInstanceOf[Long]
        if (prev != null) SketchRegistry.freeLocalCheckpoint(prev)
        iter += steps
      }
      if (cur == null) // maxIter < 1: identity labels, the old contract
        cur = sym.select(col("src").as("id")).distinct()
          .withColumn("comp", col("id")).localCheckpoint()
    } finally sym.unpersist()
    SketchRegistry.track(cur)
    cur.select(col("id"), col("comp").as("cluster"))
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing at least one
    * rare-enough shingle. At scale, feed LSH candidates instead of the
    * full corpus; the shape (explode → self-join on shingle-hash →
    * count) is the same. Shingles are joined by 64-bit hash, never by
    * string.
    *
    * `maxShingleDf` drops shingles whose document frequency exceeds the
    * cap BEFORE the self-join: a shingle appearing in d docs produces
    * O(d²) join rows, so one stopword-shingle ("of the and") would turn
    * the join quadratic at corpus scale. Capped shingles are excluded
    * from the shared count (set sizes stay uncapped), so `jaccard` is a
    * slight underestimate for pairs sharing ultra-common shingles —
    * exactly the pairs exact-dedup does not care about.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      maxShingleDf: Int = 100): DataFrame = {
    val (sizes, shared) = sharedShinglePairs(df, idCol, textCol, shingleSize, maxShingleDf)
    shared
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("jaccard",
        col("n_shared").cast("double") /
          (col("sa.n") + col("sb.n") - col("n_shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("jaccard"))
  }

  /** The exact shared-shingle pair counts both symmetric-Jaccard
    * ([[ngramJaccardPairs]]) and asymmetric containment
    * ([[containmentPairs]]) score: per-doc distinct-shingle sizes plus
    * (id_a < id_b, |A∩B|) intersection counts.
    */
  private def sharedShinglePairs(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int,
      maxShingleDf: Int): (DataFrame, DataFrame) = {
    // persisted: the shingle arrays feed the pair stage AND the two
    // size-join sides — without it the corpus re-shingles three times
    val sh = SketchRegistry.track(
      SkewTools.spreadIfNarrow(df, col(idCol))
        .select(col(idCol).as("id"),
          distinctShingles(col(textCol), shingleSize).as("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sizes = sh.select(col("id"), size(col("sh")).as("n"))
    val exploded = sh.select(col("id"), explode(col("sh")).as("s"))
      .select(col("id"), xxhash64(col("s")).as("sh_hash"))
    val shared = bucketPairs(exploded, Seq("sh_hash"), Seq("id"), maxShingleDf)
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    (sizes, shared)
  }

  /** Asymmetric shingle containment: pairs where one document's
    * distinct-shingle set is ≥ `thresholdPct`% contained in another's
    * (|A∩B| / |A|) — the quote / sub-document duplication detector
    * symmetric Jaccard misses (a paragraph fully lifted into a much
    * longer page scores low Jaccard but 100% containment). Both
    * directions are derived from ONE i<j intersection count, so the
    * posting-list pass is paid once; integer percent keeps the score
    * engine-exact. Same 100 TB shape as [[ngramJaccardPairs]]: df-
    * bounded posting lists, no all-pairs stage anywhere.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      thresholdPct: Int = 80,
      maxShingleDf: Int = 100): DataFrame = {
    val (sizes, shared) = sharedShinglePairs(df, idCol, textCol, shingleSize, maxShingleDf)
    // both directions come from ONE pass over `shared`: the previous
    // two-branch union referenced the lazy pair pipeline twice, and
    // each branch re-ran the whole df-capped posting-list pass (r17
    // continuation profile: every pair stage appeared twice in the
    // d67 job list; guide §1.2 step 1 — don't compute things twice).
    // explode(array(fwd, rev)) emits the identical row multiset.
    val both = shared
      .select(explode(array(
        struct(col("id_a").as("contained_id"), col("id_b").as("container_id"),
          col("n_shared")),
        struct(col("id_b").as("contained_id"), col("id_a").as("container_id"),
          col("n_shared")))).as("e"))
      .select(col("e.contained_id").as("contained_id"),
        col("e.container_id").as("container_id"),
        col("e.n_shared").as("n_shared"))
    both.join(sizes, both("contained_id") === sizes("id"))
      .select(col("contained_id"), col("container_id"), col("n_shared"),
        col("n").cast("long").as("n_shingles"),
        expr("n_shared * 100 div n").as("containment_pct"))
      .filter(col("containment_pct") >= thresholdPct)
  }

  /** Quality-aware near-dup keeper selection: per cluster keep the
    * member with the HIGHEST score (ties → lowest id), not the lowest
    * id — min-id keeping ([[exactKeep]], d17) throws away content
    * whenever the best version of a template happens to carry a later
    * id; a curation pipeline keeps the longest / highest-quality copy
    * (the dedup policy most corpus pipelines actually run). Docs
    * outside every cluster keep themselves.
    *
    * 100 TB shape: the cluster table joins the score column (both
    * id-keyed), one cluster-keyed min(struct) aggregate picks keepers
    * (skew-safe partial agg — a boilerplate mega-cluster folds
    * map-side), and survivors come from one left-anti join. The score
    * must be integer for the cross-engine tie order to be exact.
    */
  def keepBestPerCluster(df: DataFrame, components: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    // persisted: the keeper aggregate AND the losers join both read
    // this frame; lazy, each side would re-run the score join (the
    // last untaken recompute in the d65 path — r17 VERDICT #6)
    val scored = SketchRegistry.track(components
      .join(df.select(col(idCol).as("id"), col(scoreCol).cast("long").as("__score")),
        Seq("id"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    // min over (-score, id): highest score wins, lowest id breaks ties
    val keepers = scored
      .groupBy(col("cluster"))
      .agg(min(struct((-col("__score")).as("ns"), col("id"))).as("k"))
      .select(col("cluster"), col("k.id").as("keeper"))
    val losers = scored.join(keepers, Seq("cluster"))
      .filter(col("id") =!= col("keeper"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** EXACT Jaccard-threshold pair join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo, Ma & Srikant, WWW'07): every
    * pair with token-set Jaccard ≥ t is guaranteed found, unlike the
    * df-capped posting lists of [[ngramJaccardPairs]] which trade
    * recall on boilerplate for a bound. The trick: order the
    * vocabulary by GLOBAL rarity — the (df, token) total order — and
    * keep only each doc's first `|d| − ceil(t·|d|) + 1` tokens; two
    * sets with J ≥ t MUST share a token inside those prefixes
    * (pigeonhole on the overlap bound), so the candidate join runs
    * over prefix postings only. Rare tokens lead every prefix, so the
    * join's posting lists are naturally small — boilerplate stopwords
    * sit at the END of the order and never enter a long doc's prefix.
    *
    * 100 TB shape: one token-keyed df aggregate, one doc-keyed
    * aggregate building the sorted prefix (collect + array_sort +
    * slice — bounded by doc length, no window machinery), a prefix-
    * postings self-join carrying the AllPairs length filter
    * (t·max(|a|,|b|) ≤ min(|a|,|b|) — provably implied by J ≥ t, so
    * still lossless), then exact verification on the two docs'
    * bounded token-ID arrays (xxhash64 longs, not strings — fixed-
    * width shuffle payloads, integer probes; the 2^-64-collision
    * trade the seen-gram index documents). The threshold is integer
    * percent math (`100·inter ≥ t·union`), so the gate compares
    * cross-engine exact. Returns qualifying (id_a, id_b, n_inter,
    * n_union, jaccard_pct).
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      thresholdPct: Int = 60): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"thresholdPct=$thresholdPct must be in [1, 100]")
    val tok = SketchRegistry.track(
      SkewTools.spreadIfNarrow(df, col(idCol))
        .select(col(idCol).as("id"),
          explode(array_distinct(tokens(col(textCol)))).as("token"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val dfr = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // persisted: the prefix postings feed BOTH self-join sides — lazy,
    // each side re-ran the df join + per-doc collect/sort/slice chain
    // (r17 continuation profile: the two ~0.5 s prefix stages appeared
    // twice in the d64 job list)
    val prefix = SketchRegistry.track(tok.join(dfr, Seq("token"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("df"), col("token")))).as("arr"))
      .select(col("id"), size(col("arr")).as("n"), explode(expr(
        s"slice(arr, 1, size(arr) - (($thresholdPct * size(arr) + 99) div 100) + 1)"))
        .as("s"))
      .select(col("id"), col("n"), col("s.token").as("token"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    // the AllPairs LENGTH filter rides in the join condition: J ≥ t
    // forces t·max(|a|,|b|) ≤ min(|a|,|b|) (the intersection is at most
    // the smaller set, the union at least the larger), so size-skewed
    // collisions never become candidates — on a small-vocabulary corpus
    // (where "rare" prefix tokens still carry big posting lists) this
    // prunes the candidate set several-fold before the DISTINCT
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.token") === col("b.token") && col("a.id") < col("b.id") &&
          greatest(col("a.n"), col("b.n")) * thresholdPct.toLong <=
            least(col("a.n"), col("b.n")) * 100L)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // verification compares xxhash64 token-ID sets, not string arrays:
    // the shuffled pair payload shrinks to fixed-width longs and the
    // intersection probe is integer equality — the same 2^-64-collision
    // trade the seen-gram index documents (a collision could only ADD
    // a phantom shared token; at J ≥ t the affected pair is
    // overwhelmingly already a pair)
    // persisted: the verification sets feed both pair-side joins (same
    // two-reference recompute as `prefix` above)
    val sets = SketchRegistry.track(tok.groupBy(col("id"))
      .agg(array_sort(collect_set(xxhash64(col("token")))).as("ts"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    cand
      .join(sets.select(col("id").as("id_a"), col("ts").as("ta")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("ts").as("tb")), Seq("id_b"))
      .withColumn("n_inter",
        org.apache.spark.sql.graft.TextKernelExprs
          .sortedLongIntersectCount(col("ta"), col("tb")).cast("long"))
      .withColumn("n_union",
        (size(col("ta")) + size(col("tb"))).cast("long") - col("n_inter"))
      .filter(col("n_inter") * 100L >= col("n_union") * thresholdPct.toLong)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"),
        expr("(100 * n_inter) div n_union").as("jaccard_pct"))
  }

  /** n-gram CONTAINMENT pairs — the asymmetric near-dup relation
    * Jaccard misses: a short document quoted wholesale inside a long
    * one has tiny Jaccard (the union is dominated by the long doc)
    * but containment(short) = |A∩B|/|A| ≈ 1. The standard relation for
    * quote/subset/expansion detection when curating corpora (Broder's
    * containment from the original resemblance paper).
    *
    * Same 100 TB shape as [[ngramJaccardPairs]] — df-capped posting
    * lists before the pair explode — and the gate compares in exact
    * integer math: max-side containment = shared/min(n_a,n_b), so
    * `shared·1000 ≥ permille·least(n_a,n_b)` decides without a float
    * ratio. Returns (id_a, id_b, n_shared, n_a, n_b) for qualifying
    * pairs; callers derive either direction's containment from the
    * integers.
    */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      minContainmentPermille: Int = 800,
      maxShingleDf: Int = 100): DataFrame = {
    val (intSizes, shared) =
      sharedShinglePairs(df, idCol, textCol, shingleSize, maxShingleDf)
    // long sizes: the permille gate multiplies them
    val sizes = intSizes.select(col("id"), col("n").cast("long").as("n"))
    shared
      .join(sizes.as("ca"), col("id_a") === col("ca.id"))
      .join(sizes.as("cb"), col("id_b") === col("cb.id"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("ca.n").as("n_a"), col("cb.n").as("n_b"))
      .filter(col("n_shared") * 1000L >=
        lit(minContainmentPermille.toLong) * least(col("n_a"), col("n_b")))
  }

  /** Exact-substring span dedup (the suffix-array dedup of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * re-shaped for Spark): each document is chunked into non-overlapping
    * `spanTokens`-token spans; a span whose text occurs anywhere else in
    * the corpus survives only at its globally-first occurrence (lowest
    * (doc id, span index)) and is cut from every other document. The
    * remainder tokens (doc length mod `spanTokens`) are always kept.
    *
    * Returns (doc_id, clean_text, n_spans, n_dropped) for every input
    * document.
    *
    * 100 TB shape: one explode, then ONE skew-proof aggregation keyed
    * by (span xxhash64, span): `min(struct(doc_id, idx))` combines
    * map-side, so a boilerplate span duplicated across millions of
    * documents costs one partial-min per input partition — NOT a
    * single-reducer sort, which is what a `row_number() over
    * (partition by span)` first-occurrence window would degenerate to.
    * The aggregated firsts ARE the kept occurrences (no join back), and
    * a groupBy on doc id reassembles. No driver-side loops, nothing
    * collected.
    */
  def spanDedupKeep(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 10): DataFrame = {
    val base = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t"))
      .withColumn("n_chunks",
        (size(col("t")) / lit(spanTokens)).cast("int"))
    val spans = base
      .select(col("doc_id"),
        posexplode(when(col("n_chunks") > 0,
          transform(sequence(lit(0), col("n_chunks") - 1),
            i => array_join(slice(col("t"), i * spanTokens + 1, lit(spanTokens)), " ")))
          .otherwise(array())).as(Seq("idx", "span")))
      .withColumn("h", xxhash64(col("span")))
    val kept = spans
      .groupBy(col("h"), col("span"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
      .select(col("first.doc_id").as("doc_id"),
        col("first.idx").as("idx"), col("span"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("span")))),
          s => s.getField("span")), " ").as("kept_text"),
        count(lit(1)).as("n_kept"))
    base
      .withColumn("tail", array_join(
        slice(col("t"), col("n_chunks") * spanTokens + 1,
          size(col("t")) - col("n_chunks") * spanTokens), " "))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ",
          when(col("kept_text").isNotNull && col("kept_text") =!= "", col("kept_text")),
          when(col("tail") =!= "", col("tail"))).as("clean_text"),
        col("n_chunks").as("n_spans"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).cast("int").as("n_dropped"))
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003): slide a `window`-wide window over the document's
    * k-gram hash sequence and keep each window's MINIMUM hash —
    * rightmost occurrence on ties, the paper's density-reducing rule —
    * recording its global position. The guarantee: any shared
    * substring of at least window+k-1 tokens yields at least one
    * shared (position-independent) fingerprint, at ~2/(window+1) the
    * density of keeping every gram.
    *
    * Hashes are the oracle-portable 32-bit md5 prefix of each k-gram
    * (the selection algorithm is hash-agnostic; both engines compute
    * the identical sequence — winnowing's guarantee is independent of
    * fp width, but the downstream pair join is not: a 16-bit fp space
    * caps the join at 65,536 distinct keys, so posting lists grow
    * linearly with the corpus and candidate pairs quadratically; 32
    * bits keep random fp collisions negligible until ~2^16 docs share
    * a gram). Pure map-side: one expression computes every window's
    * pick, duplicates adjacent windows share are collapsed inline,
    * one explode emits (doc, pos, fp) — no shuffle until the caller
    * joins fingerprints. At 100 TB the downstream dedup join carries
    * ~2/(w+1) of the gram volume.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 4): DataFrame = {
    // per-gram md5-prefix hash via the native kernel — the interpreted
    // transform paid a lambda + 32-char hex + base-16 reparse per gram
    // (r17 continuation; value-identical, TextKernelSpec-pinned)
    val h = graft.functions.TextFunctions.md5Prefix32Hashes(
      shingles(col(textCol), k))
    // Native kernel (WinnowExpr): one tight O(n·w) codegen'd loop per
    // doc emitting pos·2^32+fp packed longs. The composed HOF form
    // cost 703 s at sf0.1 — the optimizer inlined the hash-array
    // column into every window reference, re-hashing all grams per
    // window (O(n²·md5) per doc); the kernel is sub-second.
    df.select(col(idCol),
        explode(org.apache.spark.sql.graft.WinnowExpr.of(h, window)).as("__e"))
      .select(col(idCol),
        shiftright(col("__e"), 32).cast("int").as("pos"),
        col("__e").bitwiseAND(lit(0xFFFFFFFFL)).as("fp"))
  }

  /** Winnowing-based near-dup candidates: docs sharing at least
    * `minShared` DISTINCT winnowed fingerprints (position-independent
    * — the same content at different offsets still matches). The
    * 100 TB point of winnowing: this join carries ~2/(w+1) of the gram
    * volume an all-grams join would shuffle, with the shared-run
    * detection guarantee intact; `minShared` is the precision knob and
    * [[ngramJaccardPairs]]-style exact verification follows on the
    * candidates only.
    *
    * `maxFpDf` is the hot-key guard (same shape as
    * [[ngramJaccardPairs]]'s shingle-df cap): a fingerprint appearing
    * in d docs produces O(d²) join rows, so one corpus-wide
    * boilerplate gram would turn the join quadratic. Fingerprints with
    * document frequency above the cap are dropped BEFORE the self-join
    * — a fixed-width count aggregation plus a semi join that reuses
    * the fp partitioning — so every surviving posting list is ≤
    * `maxFpDf` ids and the pair space is bounded by
    * |fps|·maxFpDf²/2 regardless of corpus size. The df ≥ 2 bound also
    * drops singleton fingerprints (the bulk of a real corpus) before
    * they reach the join. Capped fps are excluded from `n_shared`, so
    * heavily-boilerplate pairs may undercount — exactly the pairs the
    * exact-verify stage re-scores anyway.
    */
  def winnowCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 4, minShared: Int = 3,
      maxFpDf: Int = 100): DataFrame = {
    val fps = SketchRegistry.track(
      winnowFingerprints(df, idCol, textCol, k, window)
        .select(col(idCol), col("fp")).distinct().persist())
    val pruned = fps.join(keysWithin(fps, Seq("fp"), maxFpDf), Seq("fp"), "left_semi")
      .select(col(idCol), col("fp"))
    // Df-capped tier: [[pinnedPairs]] over the semi join above (ids
    // are distinct within an fp, as fps is distinct), with the count
    // per pair the same n_shared. The UNCAPPED comparable tier
    // (maxFpDf = MaxValue) keeps the join shape: collect_list has no
    // size cap, and only a join spills gracefully when one fingerprint
    // owns the corpus — the cap is the aggregation-buffer guard. Its
    // join output is data-sized, so it keeps plain AQE sizing.
    val paired =
      if (maxFpDf <= 10000) {
        pinnedPairs(pruned, Seq("fp"), Seq(idCol), kept = None)
          .select(col(s"p.${idCol}_a").as("id_a"), col(s"p.${idCol}_b").as("id_b"))
      } else {
        pruned.toDF("id_a", "fp")
          .join(pruned.toDF("id_b", "fp"), "fp")
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
      }
    paired
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-document duplicate-gram statistics — the corpus-level
    * duplication DIAGNOSTIC a dedup pass is judged by (the "fraction
    * of n-grams duplicated across documents" measure web-corpus
    * pipelines report before/after dedup): for each document, how many
    * of its DISTINCT `shingleSize`-token shingles appear in at least
    * one OTHER document. Returned as exact counts
    * (id, n_grams, n_dup_grams) — callers normalize however they
    * like, so no division rule enters the determinism contract.
    *
    * 100 TB shape: one corpus pass explodes distinct shingles; the
    * gram doc-frequency table is the only data-sized shuffle (the same
    * posting-list shape d10/d47 scale by); the `df >= 2` flag joins
    * back on the partitioning the count aggregation already produced;
    * the final per-doc aggregation shuffles fixed-width count rows.
    * A gram shared only WITHIN one document never counts as duplicated
    * (the explode is over distinct shingles, so df counts documents).
    */
  def dupGramStats(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val grams = SketchRegistry.track(
      SkewTools.spreadIfNarrow(df, col(idCol))
        .select(col(idCol).as("__gid"),
          explode(distinctShingles(col(textCol), shingleSize)).as("__g"))
        .persist())
    val dfreq = grams.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
    grams.join(dfreq, "__g")
      .groupBy(col("__gid"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= 2, lit(1L)).otherwise(lit(0L))).as("n_dup_grams"))
      .withColumnRenamed("__gid", idCol)
  }

  /** Per-document corpus novelty: of a document's distinct shingles,
    * how many have their corpus-wide FIRST occurrence (minimum id) in
    * this document — the marginal-contribution measure a curation
    * pipeline uses to rank candidate sources by how much genuinely new
    * text they add (a shard that is 95% previously-seen n-grams is
    * paraphrase/boilerplate, whatever its exact-dup rate says).
    * Shape: one gram-keyed shuffle bounded by the distinct-shingle
    * vocabulary (min-aggregate, map-side combine), one id-keyed
    * aggregate back — no pairwise stage exists, so it scales like
    * d20's document-frequency pass, not like a dedup join.
    */
  def gramNovelty(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val grams = SkewTools.spreadIfNarrow(df, col(idCol))
      .select(col(idCol).as("__gid"),
        explode(distinctShingles(col(textCol), shingleSize)).as("__g"))
    val firstOwner = grams.groupBy(col("__g")).agg(min(col("__gid")).as("__first"))
    grams.join(firstOwner, "__g")
      .groupBy(col("__gid"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col("__gid"), lit(1L)).otherwise(lit(0L)))
          .as("n_novel"))
      .select(col("__gid").as(idCol), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novel_frac"))
  }

  // ---------------------------------------------------------------
  // Seen-gram index: the EXACT incremental complement of gramNovelty —
  // a persisted append-only set of every shingle the pipeline has
  // ingested, probed at ingest time to score each arriving document's
  // novelty against everything before it (d25's Bloom gate is the
  // approximate version; this one is exact and supports first-owner
  // credit). Append-only means no tombstones and no rewrites, so the
  // artifact needs NO versioned-swap machinery: new distinct grams
  // land as additional parquet files and racing readers simply see a
  // slightly older set. Grams are stored as raw strings (collision-
  // free); at extreme scale store xxhash64(g) instead and accept the
  // 2^-64 collision deflation.
  // ---------------------------------------------------------------

  /** Create the seen-gram set from an initial corpus (possibly empty). */
  def buildGramIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3): Unit =
    docs.select(explode(distinctShingles(col(textCol), shingleSize))
        .as("g"))
      .distinct()
      .write.mode("overwrite").parquet(s"$path/grams")

  /** The seen set as a lazy distributed scan. */
  def openGramIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(s"$path/grams")

  /** Score one batch of documents against the CURRENT seen set and
    * ingest their grams: per doc, distinct-gram count, novel count
    * (gram absent from the index AND this doc is the batch's first
    * owner by min id — the same credit rule as [[gramNovelty]]), and
    * the fraction. The probe broadcasts the BATCH's gram set over the
    * index scan (map-side; the index is the big side), and only
    * genuinely new distinct grams are appended. Returns the per-doc
    * novelty frame; idempotency markers are the streaming caller's
    * contract.
    */
  def scoreAndIngestGrams(batch: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3): DataFrame = {
    val spark = batch.sparkSession
    val grams = SketchRegistry.track(
      batch.select(col(idCol).as("__gid"),
        explode(distinctShingles(col(textCol), shingleSize)).as("g"))
        .persist())
    grams.count() // materialize BEFORE the index grows below
    val batchGramSet = grams.select(col("g")).distinct()
    val seen = openGramIndex(spark, path)
    // map-side over the index: the batch side broadcasts. distinct()
    // (batch-gram-bounded) guards the left join below against duplicate
    // gram rows in the parquet — e.g. two streams racing to append the
    // same gram to one shared path — which would otherwise fan the join
    // out and permanently inflate n_grams for every later batch.
    val seenHits = seen.join(broadcast(batchGramSet), Seq("g"), "left_semi")
      .distinct()
    val firstOwner = grams.groupBy(col("g")).agg(min(col("__gid")).as("__first"))
    val scored = grams
      .join(firstOwner, "g")
      .join(seenHits.withColumn("__seen", lit(1)), Seq("g"), "left")
      .groupBy(col("__gid"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__seen").isNull && col("__first") === col("__gid"),
          lit(1L)).otherwise(lit(0L))).as("n_novel"))
      .select(col("__gid").as(idCol), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novel_frac"))
      .localCheckpoint() // score against the PRE-append set, then grow it
    // cut the new-gram lineage from the index scan BEFORE appending to
    // the same directory (a write that scans its own target double-reads)
    val newGrams = batchGramSet.join(seenHits, Seq("g"), "left_anti")
      .localCheckpoint()
    newGrams.write.mode("append").parquet(s"$path/grams")
    SketchRegistry.freeLocalCheckpoint(newGrams)
    grams.unpersist()
    // the checkpointed result is tracked for release at statement close
    SketchRegistry.track(scored)
  }
}
