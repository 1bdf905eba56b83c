package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Pins the native text kernels (ShinglesExpr / ArrayXxh64Expr /
  * SimHashMd5Expr / SimHash64Expr / LangGuessExpr) to the composed-HOF
  * forms they replaced: identical results on the fixture corpus and on
  * every edge shape (short docs, empty text, null text, null tokens),
  * under both codegen and interpreted evaluation.
  */
class TextKernelSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  // the fixture corpus plus adversarial shapes: fewer tokens than the
  // shingle size, exactly the shingle size, empty text, null text,
  // repeated shingles (distinct matters), multi-space runs
  private lazy val docs = {
    val fixture = graft.Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text"))
    val edge = Seq(
      (100001L, "one"), (100002L, "one two"), (100003L, "one two three"),
      (100004L, ""), (100005L, "   "), (100006L, null.asInstanceOf[String]),
      (100007L, "a b a b a b a b"), (100008L, "x  y   z    w"),
      (100009L, "the la le der 的 the el le"))
      .toDF("doc_id", "text")
    fixture.unionByName(edge)
  }

  private def assertNoDiff(kernel: org.apache.spark.sql.Column,
      hof: org.apache.spark.sql.Column): Unit = {
    val d = docs.select(kernel.as("k"), hof.as("h"))
      .filter((col("k") =!= col("h")) ||
        (col("k").isNull =!= col("h").isNull))
    assert(d.count() == 0, d.limit(3).collect().mkString("; "))
  }

  test("shingles kernel == HOF (n=3 and n=1, string equality incl. order)") {
    Seq(1, 3, 5).foreach { n =>
      assertNoDiff(
        TextFunctions.shingles(col("text"), n),
        HofTwins.shinglesOfTokensHof(TextFunctions.tokens(col("text")), n))
    }
  }

  test("distinctShingles kernel == array_distinct(HOF shingles), order included") {
    Seq(2, 3).foreach { n =>
      assertNoDiff(
        TextFunctions.distinctShingles(col("text"), n),
        array_distinct(
          HofTwins.shinglesOfTokensHof(TextFunctions.tokens(col("text")), n)))
    }
  }

  test("arrayXxh64 kernel == transform(xxhash64), incl. null elements") {
    assertNoDiff(
      TextFunctions.tokenHashes(TextFunctions.tokens(col("text"))),
      transform(TextFunctions.tokens(col("text")), t => xxhash64(t)))
    // null elements hash to the seed, like xxhash64(null)
    val withNulls = Seq(Seq[String]("a", null, "b")).toDF("arr")
    val r = withNulls.select(
      org.apache.spark.sql.graft.TextKernelExprs.arrayXxh64(col("arr")).as("k"),
      transform(col("arr"), t => xxhash64(t)).as("h")).head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
  }

  test("minhashSignature (kernel hashes, no distinct) is unchanged") {
    // min over multiset == min over set: dropping array_distinct cannot
    // change any signature slot. Pin against the fully-composed form.
    val composed = org.apache.spark.sql.graft.MinHashSignatureExpr.ofHashes(
      transform(
        array_distinct(HofTwins.shinglesOfTokensHof(
          TextFunctions.tokens(col("text")), 3)),
        s => xxhash64(s)), 64)
    assertNoDiff(
      TextFunctions.minhashSignature(TextFunctions.shingles(col("text"), 3), 64),
      composed)
  }

  test("simhashMd5 kernel == md5Digits15/fold composition") {
    val toks = TextFunctions.tokens(col("text"))
    val composed = TextFunctions.simhashMd5OfDigits(
      transform(toks, t => TextFunctions.md5Digits15(t)))
    assertNoDiff(TextFunctions.simhashMd5(toks), composed)
  }

  test("simhash64 kernel == per-bit fold composition") {
    val toks = TextFunctions.tokens(col("text"))
    assertNoDiff(
      TextFunctions.simhash64(toks),
      HofTwins.simhash64OfHashesHof(transform(toks, t => xxhash64(t))))
  }

  test("langGuess kernel == HOF argmax incl. tie order and und") {
    assertNoDiff(
      TextFunctions.langGuess(TextFunctions.tokens(col("text"))),
      HofTwins.langGuessHof(TextFunctions.tokens(col("text"))))
  }

  test("bandKeys kernel == per-band slice/concat/xxhash64 HOF") {
    val sig = TextFunctions.minhashSignature(
      TextFunctions.shingles(col("text"), 3), 64)
    val d = docs.select(sig.as("sig"))
      .select(
        TextFunctions.bandKeys(col("sig"), 16, 4).as("k"),
        HofTwins.bandKeysHof(col("sig"), 16, 4).as("h"))
      .filter((col("k") =!= col("h")) || (col("k").isNull =!= col("h").isNull))
    assert(d.count() == 0)
    // short-signature truncation matches slice semantics
    val short = Seq(Seq(1L, 2L, 3L)).toDF("sig").select(
      TextFunctions.bandKeys(col("sig"), 2, 2).as("k"),
      HofTwins.bandKeysHof(col("sig"), 2, 2).as("h")).head()
    assert(short.get(0) == short.get(1))
  }

  test("topElementCount kernel == array_max/filter HOF (token and 2-gram shapes)") {
    Seq(
      TextFunctions.tokens(col("text")),
      TextFunctions.shingles(col("text"), 2)).foreach { arr =>
      assertNoDiff(
        org.apache.spark.sql.graft.TextKernelExprs.topElementCount(arr)
          .cast("double") / size(arr),
        HofTwins.topElementFracHof(arr))
    }
  }

  test("md5Prefix32 kernel == transform(conv(substring(md5)))  incl. null elements") {
    assertNoDiff(
      TextFunctions.md5Prefix32Hashes(TextFunctions.shingles(col("text"), 3)),
      HofTwins.md5Prefix32HashesHof(TextFunctions.shingles(col("text"), 3)))
    // a null element stays a null slot, like the composed form
    val withNulls = Seq(Seq[String]("a", null, "b")).toDF("arr")
    val r = withNulls.select(
      TextFunctions.md5Prefix32Hashes(col("arr")).as("k"),
      HofTwins.md5Prefix32HashesHof(col("arr")).as("h")).head()
    assert(r.getSeq[Any](0) == r.getSeq[Any](1))
    assert(r.getSeq[Any](0)(1) == null)
  }

  test("entropyTermsMicro kernel == sorted run-count fold incl. null/empty shapes") {
    assertNoDiff(
      TextFunctions.entropyTermsMicro(TextFunctions.tokens(col("text"))),
      HofTwins.entropyTermsMicroHof(TextFunctions.tokens(col("text"))))
    // null elements contribute run-length-1 terms (= 0) in the fold and
    // are skipped by the kernel — same sum; empty array → 0; null → null
    val edge = Seq(
      (1L, Seq[String]("a", null, "a", "b", null)),
      (2L, Seq.empty[String]),
      (3L, null.asInstanceOf[Seq[String]])).toDF("id", "arr")
    val rows = edge.select(
      TextFunctions.entropyTermsMicro(col("arr")).as("k"),
      HofTwins.entropyTermsMicroHof(col("arr")).as("h")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
    }
  }

  test("zipEqCount kernel == zip_with/filter/size HOF incl. length mismatch and nulls") {
    // signature-shaped inputs off the fixture corpus
    val sig = TextFunctions.minhashSignature(
      TextFunctions.shingles(col("text"), 3), 64)
    val sig2 = TextFunctions.minhashSignature(
      TextFunctions.shingles(col("text"), 2), 64)
    val d = docs.select(sig.as("a"), sig2.as("b"))
      .select(TextFunctions.zipEqCount(col("a"), col("b")).as("k"),
        HofTwins.zipEqCountHof(col("a"), col("b")).as("h"))
      .filter((col("k") =!= col("h")) || (col("k").isNull =!= col("h").isNull))
    assert(d.count() == 0)
    // zip_with pads the shorter side with nulls (never counted), null
    // elements never count, null array → null, empty → 0
    val edge = Seq(
      (Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](1L, 9L)),
      (Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, null, 3L)),
      (Seq.empty[java.lang.Long], Seq[java.lang.Long](1L)),
      (null.asInstanceOf[Seq[java.lang.Long]], Seq[java.lang.Long](1L)))
      .toDF("a", "b")
    val rows = edge.select(
      TextFunctions.zipEqCount(col("a"), col("b")).as("k"),
      HofTwins.zipEqCountHof(col("a"), col("b")).as("h")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getInt(0) == r.getInt(1), r.toString)
    }
  }

  test("interpreted eval agrees with codegen for every kernel") {
    val cols = Seq(
      TextFunctions.shingles(col("text"), 3).as("c1"),
      TextFunctions.distinctShingles(col("text"), 3).as("c2"),
      TextFunctions.tokenHashes(TextFunctions.tokens(col("text"))).as("c3"),
      TextFunctions.simhashMd5(TextFunctions.tokens(col("text"))).as("c4"),
      TextFunctions.simhash64(TextFunctions.tokens(col("text"))).as("c5"),
      TextFunctions.langGuess(TextFunctions.tokens(col("text"))).as("c6"),
      TextFunctions.md5Prefix32Hashes(TextFunctions.shingles(col("text"), 3)).as("c7"),
      TextFunctions.entropyTermsMicro(TextFunctions.tokens(col("text"))).as("c8"),
      TextFunctions.zipEqCount(
        TextFunctions.minhashSignature(TextFunctions.shingles(col("text"), 3), 64),
        TextFunctions.minhashSignature(TextFunctions.shingles(col("text"), 2), 64))
        .as("c9"))
    val on = docs.select(cols: _*).collect().map(_.toString)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val off = docs.select(cols: _*).collect().map(_.toString)
      assert(on.toSeq == off.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
