package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.functions.TextFunctions._

class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("tokens and shingles") {
    val df = Seq("a b c d", "  x   y  ", "solo").toDF("text")
    val got = df.select(tokens($"text").as("t"), shingles($"text", 3).as("s"))
      .collect()
    assert(got(0).getSeq[String](0) == Seq("a", "b", "c", "d"))
    assert(got(0).getSeq[String](1) == Seq("a b c", "b c d"))
    assert(got(1).getSeq[String](0) == Seq("x", "y"))
    assert(got(1).getSeq[String](1) == Seq("x y")) // < n tokens → whole text
    assert(got(2).getSeq[String](1) == Seq("solo"))
  }

  test("minhash signature is deterministic and length-k") {
    val df = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val sig1 = df.select(minhashSignature(shingles($"text", 3), 16)).head.getSeq[Long](0)
    val sig2 = df.select(minhashSignature(shingles($"text", 3), 16)).head.getSeq[Long](0)
    assert(sig1.size == 16)
    assert(sig1 == sig2)
  }

  test("identical texts share full signature; disjoint texts do not") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("id", "text")
    val sigs = df.select($"id", minhashSignature(shingles($"text", 3), 32).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("simhash: similar texts have small hamming distance") {
    val df = Seq(
      (1L, "spark query engine with columnar execution and vectorized reads"),
      (2L, "spark query engine with columnar execution and vectorized scans"),
      (3L, "completely different words about cooking pasta and tomato sauce")).toDF("id", "text")
    val fps = df.select($"id", simhash64(tokens($"text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L), fps(2L)) < ham(fps(1L), fps(3L)))
  }

  test("rolling fingerprint is order-sensitive") {
    val df = Seq((1L, "a b c"), (2L, "c b a")).toDF("id", "text")
    val fps = df.select($"id", rollingFingerprint(tokens($"text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) != fps(2L))
  }

  test("rolling fingerprint is the exact Rabin-Karp fold of the token hashes") {
    val df = Seq((1L, "the quick brown fox"), (2L, ""), (3L, "one")).toDF("id", "text")
    val rows = df.select($"id",
        graft.functions.TextFunctions.tokenHashes(tokens($"text")).as("hs"),
        rollingFingerprint(tokens($"text")).as("f"))
      .collect()
    rows.foreach { r =>
      val expected = r.getSeq[Long](1).foldLeft(0L)((acc, h) => acc * 31L + h)
      assert(r.getLong(2) == expected, s"id ${r.getLong(0)}")
    }
  }

  test("langGuess picks marker language, und when none") {
    val df = Seq("the cat and the dog is here", "der hund und die katze ist",
      "xyzzy plugh").toDF("text")
    val got = df.select(langGuess(tokens($"text"))).collect().map(_.getString(0))
    assert(got(0) == "en")
    assert(got(1) == "de")
    assert(got(2) == "und")
  }
}

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near dup of 1
    (4L, "completely unrelated text about database engines and query planning"),
    (5L, "the  quick   brown fox jumps over the lazy dog again and again today") // ws-variant of 1
  )

  lazy val df = docs.toDF("doc_id", "text")

  test("exact dedup groups whitespace-normalized copies") {
    val groups = Dedup.exactGroups(df, "doc_id", "text").collect()
    val big = groups.find(_.getLong(1) == 3L)
    assert(big.isDefined, "1, 2 and 5 should collapse into one group")
    assert(big.get.getLong(2) == 1L) // keeper is min id
    assert(Dedup.exactKeep(df, "doc_id", "text").count() == 3)
  }

  test("minhash LSH finds the near-dup pair but not unrelated docs") {
    val pairs = Dedup.minhashCandidates(df, "doc_id", "text",
      shingleSize = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dups always pair
    assert(pairs.contains((1L, 3L)) || pairs.contains((3L, 5L)), "near dup should be caught")
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }, "unrelated doc must not pair")
  }

  test("simhash pairs near dups, skips unrelated") {
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("ngram jaccard: exact dup scores 1.0, near dup high, unrelated absent") {
    val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, threshold = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(got((1L, 2L)) == 1.0)
    assert(got.get((1L, 3L)).exists(_ > 0.5))
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("span dedup cuts duplicated spans everywhere but first occurrence") {
    // Doc 0 and doc 1 share an identical first 4-token span; doc 1 also
    // repeats that span internally. spanTokens=4 → doc 0 keeps its span
    // (globally first), doc 1 loses both copies but keeps its tail.
    val docs = Seq(
      (0L, "a b c d x y"),
      (1L, "a b c d a b c d tail1 tail2"),
      (2L, "p q r s t")).toDF("doc_id", "text")
    val got = Dedup.spanDedupKeep(docs, "doc_id", "text", spanTokens = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(0L) == (("a b c d x y", 1, 0)))
    assert(got(1L) == (("tail1 tail2", 2, 2)))
    assert(got(2L) == (("p q r s t", 1, 0)))
  }

  test("span dedup keeps sub-span documents untouched") {
    val docs = Seq((0L, "only three tokens")).toDF("doc_id", "text")
    val got = Dedup.spanDedupKeep(docs, "doc_id", "text", spanTokens = 10)
      .collect().head
    assert(got.getString(1) == "only three tokens")
    assert(got.getInt(2) == 0 && got.getInt(3) == 0)
  }

  test("sketch registry releases all persisted intermediates after the action") {
    SketchRegistry.releaseAll() // start clean (other suites share the session)
    Dedup.minhashCandidates(df, "doc_id", "text").foreach(_ => ())
    Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 12).foreach(_ => ())
    assert(SketchRegistry.size >= 2, "operators must track their persists")
    SketchRegistry.releaseAll()
    assert(SketchRegistry.size == 0)
    val leftover = spark.sparkContext.getPersistentRDDs.size
    assert(leftover == 0, s"$leftover RDDs still persisted after releaseAll")
  }

  test("one session's release leaves another session's sketches cached") {
    SketchRegistry.releaseAll()
    // Two tenants = two session clones over one context, the gateway
    // topology. Each runs a sketch-persisting operator.
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    // distinct data per tenant: identical plans would share ONE
    // CacheManager entry (plan-matching dedup), which is not the
    // cross-tenant case the scoping protects
    def docsOn(s: org.apache.spark.sql.SparkSession, tag: String) = {
      import s.implicits._
      Seq((1L, s"alpha beta gamma delta epsilon $tag"),
        (2L, s"alpha beta gamma delta zeta $tag")).toDF("doc_id", "text")
    }
    Dedup.minhashCandidates(docsOn(s1, "one"), "doc_id", "text").foreach(_ => ())
    Dedup.minhashCandidates(docsOn(s2, "two"), "doc_id", "text").foreach(_ => ())
    assert(SketchRegistry.size(s1) >= 1 && SketchRegistry.size(s2) >= 1)
    val s2Persisted = spark.sparkContext.getPersistentRDDs.size
    // tenant 1 closes its statement — only ITS frames are freed
    SketchRegistry.release(s1)
    assert(SketchRegistry.size(s1) == 0)
    assert(SketchRegistry.size(s2) >= 1, "other tenant's ledger must survive")
    assert(spark.sparkContext.getPersistentRDDs.size < s2Persisted,
      "tenant 1's frames must actually unpersist")
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "tenant 2's frames must stay cached")
    SketchRegistry.release(s2)
    assert(SketchRegistry.size == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("dupGramStats counts distinct grams shared with OTHER documents only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),     // grams: "a b c", "b c d"
      (2L, "a b c x"),     // shares "a b c" with doc 1
      (3L, "q r s q r s"), // grams repeat WITHIN the doc only
      (4L, "hi"))          // short doc: one whole-text shingle
      .toDF("doc_id", "text")
    val got = Dedup.dupGramStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((2L, 1L)), got(1L))
    assert(got(2L) == ((2L, 1L)), got(2L))
    assert(got(3L) == ((3L, 0L)),
      s"within-doc repeats are not cross-doc duplication: ${got(3L)}")
    assert(got(4L) == ((1L, 0L)), got(4L))
  }

  test("triangleCounts: oriented join counts each triangle once per member") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3), a pendant 4-5,
    // a directed duplicate 2->1 (must dedupe), and a self-loop 6-6
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (2L, 1L), (6L, 6L)).toDF("a", "b")
    val got = GraphOps.triangleCounts(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), got)
    // triangle-free graph: empty result
    val none = GraphOps.triangleCounts(
      Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), "a", "b")
    assert(none.count() == 0)
  }

  test("pageRank: integer recurrence hand-computed, high-indegree node ranks first") {
    import spark.implicits._
    // 1→2, 2→1, 2→3, 3→1: outdeg 1:1, 2:2, 3:1
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val zero = GraphOps.pageRank(edges, "s", "d", iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(zero == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
    // one round: in(1) = pr(2) div 2 + pr(3) div 1 = 1,500,000;
    // in(2) = 1,000,000; in(3) = 500,000; pr' = 150000 + 85·in div 100
    val one = GraphOps.pageRank(edges, "s", "d", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 1425000L, 2L -> 1000000L, 3L -> 575000L), one)
    // after 5 rounds the half-fed node is strictly last (nodes 1 and 2
    // trade the lead on this 3-cycle — tiny cycles oscillate; node 3
    // receives only half of 2's mass and never catches up)
    val five = GraphOps.pageRank(edges, "s", "d", iters = 5)
      .orderBy(org.apache.spark.sql.functions.col("pr_micro").desc)
      .collect().map(_.getLong(0)).toSeq
    assert(five.last == 3L, five.toString)
    // deterministic across runs (pure integer arithmetic)
    val again = GraphOps.pageRank(edges, "s", "d", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == GraphOps.pageRank(edges, "s", "d", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("keepBestPerCluster keeps the highest-score member (tie → lowest id), singletons survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 50L), (3L, "a", 50L), // cluster A: 2 wins (score tie → min id among 50s)
      (4L, "b", 99L), (5L, "b", 7L),                  // cluster B: 4 wins
      (6L, "c", 1L))                                   // singleton: kept
      .toDF("doc_id", "grp", "score")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "cluster")
    val kept = Dedup.keepBestPerCluster(docs, comp, "doc_id", "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 6L), kept)
    // contrast with min-id keeping: cluster A would keep 1 (score 10)
    assert(!kept.contains(1L), "the low-id low-score copy must lose")
  }

  test("prefixJaccardPairs finds EXACTLY the brute-force threshold pairs (lossless filter)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // overlapping token sets around the 0.6 boundary plus unrelated
    // docs; the prefix filter must lose nothing the brute force finds
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),      // J(1,2) = 4/6 = 0.667
      (3L, "alpha beta gamma delta epsilon"),   // exact dup of 1
      (4L, "omega psi chi phi"),
      (5L, "omega psi chi phi upsilon tau"),    // J(4,5) = 4/6 = 0.667
      (6L, "unrelated words entirely here"),
      (7L, "alpha zeta"),                       // small overlaps below t
      (8L, "beta gamma"))
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", thresholdPct = 60)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over all pairs
    val sets = docs.collect().map(r =>
      r.getLong(0) -> r.getString(1).split(" ").toSet).toMap
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = sets(a).intersect(sets(b)).size
      uni = sets(a).union(sets(b)).size
      if inter * 100 >= uni * 60
    } yield (a, b)).toSet
    assert(got == brute, s"got $got want $brute")
    assert(brute.contains((1L, 2L)) && brute.contains((1L, 3L)) &&
      brute.contains((4L, 5L)), "fixture must exercise boundary pairs")
  }

  test("gramNovelty credits each gram's first owner (min id) exactly once") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),     // grams "a b c", "b c d" — both first here
      (2L, "a b c x"),     // "a b c" seen (doc 1 owns it), "b c x" novel
      (3L, "a b c d"),     // exact dup of doc 1: zero novel grams
      (4L, "hi"))          // short doc: one whole-text shingle, novel
      .toDF("doc_id", "text")
    val got = Dedup.gramNovelty(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((2L, 2L, 1.0)), got(1L))
    assert(got(2L) == ((2L, 1L, 0.5)), got(2L))
    assert(got(3L) == ((2L, 0L, 0.0)), got(3L))
    assert(got(4L) == ((1L, 1L, 1.0)), got(4L))
  }

  test("containmentPairs flags sub-document duplication Jaccard misses") {
    import spark.implicits._
    // doc 1's text is lifted verbatim into the much longer doc 2:
    // containment(1 → 2) = 100%, but Jaccard = 4/16 = 0.25 — below
    // any near-dup threshold. doc 3 shares nothing.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f g h i j k l m n o p q r"),
      (3L, "z y x w v u")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleSize = 3, thresholdPct = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == Set((1L, 2L)), s"only 1⊆2 qualifies: $got")
    assert(got((1L, 2L)) == ((4L, 4L, 100L)),
      s"all 4 of doc 1's shingles are contained: $got")
    // the symmetric Jaccard pass at 0.5 indeed misses this pair
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.5).collect()
    assert(jac.isEmpty, s"Jaccard must miss the sub-document pair: ${jac.toSeq}")
  }

  test("soft dedup: singletons always survive; cluster members thin by the deterministic coin") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-soft-dedup").toString
    // ids 1, 2, 5, 13 share identical text (one near-dup cluster of 4);
    // with the seeded md5 coin, h32(5)·4 and h32(13)·4 < 2³² (kept) while
    // h32(1)·4 and h32(2)·4 are not (dropped) — precomputed, so the
    // assertion is exact, not probabilistic. 20 and 21 are singletons.
    val rep = ("alpha beta gamma delta epsilon zeta eta theta " * 4).trim
    val docs = Seq(1L, 2L, 5L, 13L).map(i => (i, rep)) ++ Seq(
      (20L, "completely different words one two three four five six seven"),
      (21L, "another standalone document nine ten eleven twelve thirteen"))
    docs.map { case (i, t) => (i, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = graft.queries.TextQueries.queries("d68_soft_dedup_sample")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.get(20L).contains(1L) && kept.get(21L).contains(1L),
      s"singletons must always survive with size 1: $kept")
    assert(kept.keySet.intersect(Set(1L, 2L, 5L, 13L)) == Set(5L, 13L),
      s"the coin keeps exactly the precomputed cluster members: $kept")
    assert(kept(5L) == 4L && kept(13L) == 4L,
      s"survivors report their cluster size: $kept")
  }

  test("bucketPairs equals the a.key = b.key AND a.id < b.id self-join over buckets of 2 to cap members") {
    val cap = 4
    val rng = new scala.util.Random(20261020L)
    // a singleton bucket, buckets of exactly cap and cap + 1 members,
    // and small ones; ids repeat across buckets, as shingles share docs
    val sizes = Seq(1, cap, cap + 1, 2, 3, cap, 1, cap + 1)
    val members = sizes.zipWithIndex.flatMap { case (n, key) =>
      rng.shuffle((1L to 12L).toList).take(n).map(id => (key.toLong, id, rng.nextInt(1000)))
    }.toDF("key", "id", "v")
    val df = members.groupBy(col("key")).agg(count(lit(1)).as("df"))
    val selfJoin = members.as("a").join(members.as("b"),
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .join(df.as("d"), col("a.key") === col("d.key"))
      .filter(col("d.df").between(2, cap))
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.mkString(",")).toSeq.sorted
    val bare = rows(selfJoin.select(col("a.id"), col("b.id")))
    assert(bare.size == 2 * (cap * (cap - 1) / 2) + 1 + 3, s"oracle pairs: $bare")
    assert(rows(Dedup.bucketPairs(members, Seq("key"), Seq("id"), cap)
      .select(col("p.id_a"), col("p.id_b"))) == bare)
    assert(rows(Dedup.bucketPairs(members, Seq("key"), Seq("id", "v"), cap)
        .select(col("p.id_a"), col("p.v_a"), col("p.id_b"), col("p.v_b"))) ==
      rows(selfJoin.select(col("a.id"), col("a.v"), col("b.id"), col("b.v"))))
  }

  test("winnow candidate pairs: the capped tier at maxFpDf 10000 equals the join tier at 10001") {
    val corpus = graft.Tables(spark, SparkFixture.sfDir).documents
    val maxDf = Dedup.winnowFingerprints(corpus, "doc_id", "text")
      .select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).count().agg(max(col("count"))).head().getLong(0)
    assert(maxDf <= 10000L, s"a fingerprint's df of $maxDf binds the cap")
    def pairs(maxFpDf: Int): Seq[(Long, Long, Long)] =
      Dedup.winnowCandidatePairs(corpus, "doc_id", "text", minShared = 1, maxFpDf = maxFpDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val capped = pairs(10000)
    assert(capped.nonEmpty, "the fixture corpus shares winnowed fingerprints")
    assert(capped == pairs(10001))
  }
}

class SimilaritySearchSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._
  import graft.functions.VectorFunctions._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val got = df.select(cosine($"a", $"b")).collect().map(_.getDouble(0))
    assert(math.abs(got(0) - 1.0) < 1e-9)
    assert(math.abs(got(1)) < 1e-9)
  }

  test("brute-force top-k returns nearest by construction") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)), // closest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0L)
    val top = SimilaritySearch.bruteForceTopK(vecs, q, "vec_id", "embedding", 2)
      .collect()
    assert(top.head.getLong(1) == 1L) // rank 1 = vector 1
  }

  test("lsh top-k puts identical vectors in the same bucket") {
    val vecs = Seq(
      (0L, Array.fill(8)(0.5f)),
      (1L, Array.fill(8)(0.5f)),
      (2L, Array.fill(8)(-0.5f))).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0L)
    val got = SimilaritySearch.lshTopK(vecs, q, "vec_id", "embedding",
      k = 2, dim = 8, nPlanes = 4)
      .collect().map(_.getLong(1)).toSet
    assert(got.contains(1L))
    assert(!got.contains(2L)) // opposite vector lands in the complement bucket
  }

  test("label centroids average per dimension") {
    val vecs = Seq(
      (0L, Array(1.0f, 3.0f), 1),
      (1L, Array(3.0f, 5.0f), 1),
      (2L, Array(10.0f, 10.0f), 2)).toDF("vec_id", "embedding", "label")
    val got = SimilaritySearch.labelCentroids(vecs, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(got(1) == Seq(2.0, 4.0))
    assert(got(2) == Seq(10.0, 10.0))
  }

  test("winnowing: shared runs guarantee a shared fingerprint at reduced density") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    // docs A and B share an 8-token run (>= window+k-1 = 6), doc C shares nothing
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two $shared three four"),
      (2L, s"nine ten eleven $shared twelve"),
      (3L, "completely different words with no common run at all")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 3, window = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    // the paper's guarantee: a shared >= w+k-1 token run yields a shared fp
    assert((byDoc(1L) & byDoc(2L)).nonEmpty, "shared run must share a fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty, "disjoint docs should not collide (32-bit: overwhelmingly)")
    // density: far fewer fingerprints than grams
    val grams1 = docs.filter($"doc_id" === 1L)
      .select(org.apache.spark.sql.functions.size(
        graft.functions.TextFunctions.shingles($"text", 3))).head.getInt(0)
    assert(byDoc(1L).size < grams1, s"winnowed ${byDoc(1L).size} vs $grams1 grams")
    // positions are valid gram indices and the rightmost-min rule is deterministic
    assert(fps.forall { case (_, pos, _) => pos >= 0 })
    val again = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 3, window = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(fps.sortBy(t => (t._1, t._2)).toSeq == again.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("winnow pair join: hot fingerprints are df-capped out before the self-join") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    // 10 docs all share one boilerplate run (its fps have df=10);
    // docs 1 and 2 additionally share a rare run (df=2).
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val rare = "quantum entangled weasels juggle prime factored turnips nightly"
    // unique token at the HEAD only: interior winnow selections are
    // then identical across docs, so every boilerplate fp has df=10
    // (a mid-text unique token would perturb which shared gram wins
    // nearby windows, legitimately creating small-df shared fps)
    val docs = ((1L to 10L).map { i =>
      val extra = if (i <= 2) s" $rare" else ""
      (i, s"doc$i $boiler$extra")
    }).toDF("doc_id", "text")
    // cap below the boilerplate df: only the rare run may produce pairs
    val capped = Dedup.winnowCandidatePairs(
        docs, "doc_id", "text", k = 3, window = 4, minShared = 1, maxFpDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)),
      s"hot-fp pairs must be pruned, rare-run pair kept; got $capped")
    // uncapped: the boilerplate fps pair everything with everything
    val uncapped = Dedup.winnowCandidatePairs(
        docs, "doc_id", "text", k = 3, window = 4, minShared = 1, maxFpDf = 1000)
      .count()
    assert(uncapped == 45L, s"uncapped should emit all 45 pairs, got $uncapped")
  }

  test("containment pairs catch a quoted subset that Jaccard misses") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val quote = "the five boxing wizards jump quickly over ten lazy hounds"
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, quote), // the short original
      (2L, s"$filler $quote"), // quotes doc 1 wholesale inside much more text
      (3L, "entirely unrelated content with no shared shingles at all here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
        shingleSize = 3, minContainmentPermille = 800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"quoted-subset pair must qualify, unrelated must not: ${pairs.toSeq}")
    val (_, _, shared, nA, nB) = pairs.head
    // containment(short) near 1; Jaccard well under the usual 0.5 bar
    assert(shared == nA, "every shingle of the quoted doc is contained")
    assert(shared.toDouble / (nA + nB - shared) < 0.5,
      "this is exactly the pair a Jaccard threshold misses")
  }

  test("simhash band buckets: overfull buckets df-capped, recall at default intact") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    // 8 identical docs land in the same bucket in every band; one
    // near-dup pair (9, 10) differs by a single token.
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely separate subject matter about volcanic geology and mineral strata"
    val docs = ((1L to 8L).map(i => (i, base)) ++ Seq(
      (9L, other + " extra"),
      (10L, other + " bonus")
    )).toDF("doc_id", "text")
    // cap below the clone-bucket size: clone pairs are pruned, the
    // near-dup pair survives in its own small bucket
    val capped = Dedup.simhashPairs(docs, "doc_id", "text",
        maxHamming = 10, maxBandDf = 5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.contains((1L, 2L)), "overfull clone bucket must be pruned")
    assert(capped.contains((9L, 10L)), s"near-dup pair must survive the cap; got $capped")
    // default cap (1000) does not bind on a small corpus: full recall
    // (28 clone pairs + the (9,10) near-dup pair)
    val dflt = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 10)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dflt.size == 29 && dflt.contains((9L, 10L)),
      s"default cap must keep all clone pairs + near-dup pair, got ${dflt.size}")
  }

  test("minhash band buckets: template-clone bucket df-capped, recall at default intact") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    // 8 template clones (identical text → identical signature → the
    // same bucket in EVERY band) + one near-dup pair on a different
    // subject. This is the O(d²)-per-band blowup the cap bounds.
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely separate subject matter about volcanic geology and mineral strata"
    val docs = ((1L to 8L).map(i => (i, base)) ++ Seq(
      (9L, other + " more words to compare closely"),
      (10L, other + " more words to compare closely now")
    )).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(docs, "doc_id", "text",
        threshold = 0.5, maxBandDf = 5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.contains((1L, 2L)), "overfull clone bucket must be pruned")
    assert(capped.contains((9L, 10L)), s"near-dup pair must survive the cap; got $capped")
    // default cap does not bind on a small corpus: full recall
    val dflt = Dedup.minhashCandidates(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dflt.size == 29 && dflt.contains((9L, 10L)),
      s"default cap must keep all clone pairs + near-dup pair, got ${dflt.size}")
  }

  test("band index build-time cap: bounded artifact, singleton buckets kept") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely separate subject matter about volcanic geology and mineral strata"
    val corpus = ((1L to 8L).map(i => (i, base)) ++ Seq((9L, other)))
      .toDF("doc_id", "text")
    val probes = Seq((100L, base), (101L, other + " almost")).toDF("doc_id", "text")
    val idx = Dedup.bandIndexOf(corpus, "doc_id", "text", maxBandDf = 5)
    // the clone bucket (8 ids in every band) is dropped at build, so
    // the artifact is bounded by bands × cap
    val perBucket = idx.groupBy("band", "key").count().collect().map(_.getLong(2))
    assert(perBucket.forall(_ <= 5), s"capped index may not hold overfull buckets")
    val hits = Dedup.bandCollisions(probes, "doc_id", "text", idx)
      .select("id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!hits.exists(_._1 == 100L), "probe against the pruned clone bucket reports nothing")
    assert(hits.contains((101L, 9L)),
      s"singleton corpus bucket must stay probeable; got $hits")
    // default cap: the clone bucket is retained and the probe collides
    val dfltIdx = Dedup.bandIndexOf(corpus, "doc_id", "text")
    val dfltHits = Dedup.bandCollisions(probes, "doc_id", "text", dfltIdx)
      .select("id", "corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((1L to 8L).forall(c => dfltHits.contains((100L, c))))
  }

  test("band index round-trips through parquet; a fresh session probes the artifact only") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "totally different content about glacier melt rates")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("bandidx").toString
    try {
      Dedup.buildBandIndex(corpus, "doc_id", "text", path,
        shingleSize = 3, bands = 16, rowsPerBand = 4, maxBandDf = 50)
      val probes = Seq(
        (100L, "alpha beta gamma delta epsilon zeta eta theta"),
        (101L, "nothing like anything in the corpus at all whatsoever")
      ).toDF("doc_id", "text")
      val inMem = Dedup.bandCollisions(probes, "doc_id", "text",
          Dedup.bandIndexOf(corpus, "doc_id", "text", maxBandDf = 50))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

      // a FRESH session (no registered corpus, no cached frames) opens
      // the artifact and must reproduce the in-memory collisions
      val s2 = spark.newSession()
      val opened = Dedup.openBandIndex(s2, path)
      assert(opened.shingleSize == 3 && opened.bands == 16 &&
        opened.rowsPerBand == 4 && opened.maxBandDf == 50,
        "banding parameters must ride the artifact")
      import s2.implicits._
      val probes2 = Seq(
        (100L, "alpha beta gamma delta epsilon zeta eta theta"),
        (101L, "nothing like anything in the corpus at all whatsoever")
      ).toDF("doc_id", "text")
      val viaArtifact = opened.collisions(probes2, "doc_id", "text")
      val got = viaArtifact.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == inMem, s"artifact probe must equal in-memory probe: $got vs $inMem")
      assert(got.exists(_._1 == 100L) && !got.exists(_._1 == 101L))
      // the probe plan reads the persisted index, never the corpus
      val plan = viaArtifact.queryExecution.executedPlan.toString
      assert(plan.contains(new java.io.File(path).getName),
        s"probe must scan the index artifact:\n${plan.take(800)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("appendToBandIndex: incremental ingest equals one-shot build when the cap is slack") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "totally different content about glacier melt rates"),
      (4L, "yet another unrelated musing on deep sea vents")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("bandidx2").toString
    try {
      Dedup.buildBandIndex(docs.filter($"doc_id" <= 2), "doc_id", "text", path)
      Dedup.appendToBandIndex(docs.filter($"doc_id" > 2), "doc_id", "text", path)
      val opened = Dedup.openBandIndex(spark.newSession(), path)
      val got = opened.index.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val oneShot = Dedup.bandIndexOf(docs, "doc_id", "text").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == oneShot, "append must equal the one-shot build on a cap-slack corpus")
      // probes see the appended docs
      val probes = Seq((100L, "yet another unrelated musing on deep sea vents"))
        .toDF("doc_id", "text")
      val hits = opened.collisions(probes, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.contains((100L, 4L)), s"appended doc must be probeable: $hits")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("compactBandIndex re-applies the cap globally and resets the staleness counter") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val clone = "the same boilerplate text repeated verbatim in every shard"
    val base = Seq((1L, clone), (2L, clone),
      (10L, "totally different content about glacier melt rates")).toDF("doc_id", "text")
    val more = Seq((3L, clone), (4L, clone)).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("bandidx3").toString
    try {
      Dedup.buildBandIndex(base, "doc_id", "text", path, maxBandDf = 2)
      Dedup.appendToBandIndex(more, "doc_id", "text", path)
      val stale = Dedup.openBandIndex(spark.newSession(), path)
      assert(stale.appends == 1, "append must bump the meta staleness counter")
      // the per-batch cap let the clone buckets grow past the global cap
      assert(stale.index.groupBy("band", "key").count().filter($"count" > 2).count() > 0,
        "setup must actually push a bucket past the cap")
      Dedup.compactBandIndex(spark, path)
      val compacted = Dedup.openBandIndex(spark.newSession(), path)
      assert(compacted.appends == 0, "compaction must reset the staleness counter")
      assert(compacted.index.groupBy("band", "key").count().filter($"count" > 2).count() == 0,
        "no bucket may exceed the cap after compaction")
      // the compacted artifact equals a fresh one-shot build at the same cap
      val got = compacted.index.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val want = Dedup.bandIndexOf(base.union(more), "doc_id", "text", maxBandDf = 2)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, "compacted artifact must equal a fresh build")
      // probe behavior: the over-cap clone bucket is pruned wholesale,
      // under-cap buckets stay probeable
      val probes = Seq((100L, clone),
        (101L, "totally different content about glacier melt rates")).toDF("doc_id", "text")
      val hits = compacted.collisions(probes, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!hits.exists(_._1 == 100L), s"over-cap bucket must be pruned: $hits")
      assert(hits.exists(_._1 == 101L), s"under-cap buckets stay probeable: $hits")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("compaction swap is visible-atomic: versioned dirs + meta pointer, no ENOENT window") {
    val spark = graft.SparkFixture.spark
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("bandidx-swap").toString
    try {
      Dedup.buildBandIndex(docs, "doc_id", "text", path, maxBandDf = 2)
      // a reader that resolved the pointer BEFORE the compaction…
      val before = Dedup.openBandIndex(spark, path)
      assert(before.bandsDir == "bands")
      Dedup.compactBandIndex(spark, path)
      // …keeps a live directory: the previous version survives one cycle
      assert(before.index.count() > 0,
        "pre-compaction reader must stay readable after the swap")
      assert(new java.io.File(s"$path/bands").isDirectory)
      val after = Dedup.openBandIndex(spark, path)
      assert(after.bandsDir == "bands_v1", after.bandsDir)
      // an open issued between flip and prune (emulated: both dirs on
      // disk right now) succeeds and probes identically
      assert(after.index.collect().toSet == before.index.collect().toSet)
      // second cycle prunes only the OLDEST version
      Dedup.compactBandIndex(spark, path)
      val after2 = Dedup.openBandIndex(spark, path)
      assert(after2.bandsDir == "bands_v2", after2.bandsDir)
      assert(!new java.io.File(s"$path/bands").exists(),
        "versions older than the previous one are pruned")
      assert(new java.io.File(s"$path/bands_v1").isDirectory,
        "the previous version must be retained")
      // appends land in the POINTED dir and stay probeable
      Dedup.appendToBandIndex(
        Seq((7L, "iota kappa lambda mu")).toDF("doc_id", "text"),
        "doc_id", "text", path)
      val withAppend = Dedup.openBandIndex(spark.newSession(), path)
      assert(withAppend.appends == 1 && withAppend.bandsDir == "bands_v2")
      val hits = withAppend.collisions(
          Seq((100L, "iota kappa lambda mu")).toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.contains((100L, 7L)), s"append into the pointed dir must be probeable: $hits")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }
}
