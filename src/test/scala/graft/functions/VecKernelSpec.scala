package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture

/** Pins the native cosine kernel to the composed-HOF form it replaced:
  * bit-identical doubles on every input shape the queries use, under
  * both codegen and interpreted evaluation.
  */
class VecKernelSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def rng = new scala.util.Random(7)

  test("kernel == HOF bit-for-bit on random float vectors") {
    val rows = Seq.fill(500) {
      val d = 64
      (Array.fill(d)(rng.nextFloat() * 2 - 1), Array.fill(d)(rng.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("a", "b")
    val diff = df.select(
        VectorFunctions.cosine(col("a"), col("b")).as("k"),
        HofTwins.cosineHof(col("a"), col("b")).as("h"))
      .filter(col("k") =!= col("h")) // bitwise-equal doubles compare equal
    assert(diff.count() == 0)
  }

  test("kernel == HOF against a double-literal centroid array (the nearestList shape)") {
    val cent = Array.fill(64)(rng.nextDouble() * 2 - 1)
    val centCol = array(cent.map(lit): _*)
    val df = Seq.fill(200)(Array.fill(64)(rng.nextFloat() * 2 - 1)).toDF("a")
    val diff = df.select(
        VectorFunctions.cosine(col("a"), centCol).as("k"),
        HofTwins.cosineHof(col("a"), centCol).as("h"))
      .filter(col("k") =!= col("h"))
    assert(diff.count() == 0)
  }

  test("dot and l2Sq kernels == HOF bit-for-bit (random, mismatch, empty)") {
    val rows = Seq.fill(300) {
      (Array.fill(64)(rng.nextFloat() * 2 - 1), Array.fill(64)(rng.nextFloat() * 2 - 1))
    } :+ ((Array.empty[Float], Array.empty[Float]))
    val df = rows.toDF("a", "b")
    val diff = df.select(
        VectorFunctions.dot(col("a"), col("b")).as("dk"),
        HofTwins.dotHof(col("a"), col("b")).as("dh"),
        VectorFunctions.l2Sq(col("a"), col("b")).as("lk"),
        HofTwins.l2SqHof(col("a"), col("b")).as("lh"))
      .filter(col("dk") =!= col("dh") || col("lk") =!= col("lh") ||
        (col("dk").isNull =!= col("dh").isNull) ||
        (col("lk").isNull =!= col("lh").isNull))
    assert(diff.count() == 0)
    // length mismatch → null on both forms
    val mm = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
      .select(VectorFunctions.dot(col("a"), col("b")).as("dk"),
        HofTwins.dotHof(col("a"), col("b")).as("dh"),
        VectorFunctions.l2Sq(col("a"), col("b")).as("lk"),
        HofTwins.l2SqHof(col("a"), col("b")).as("lh")).head()
    assert((0 to 3).forall(mm.isNullAt))
  }

  test("zero-norm inputs give 0.0, like the HOF form") {
    val df = Seq((Array(0f, 0f, 0f), Array(1f, 2f, 3f))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.cosine(col("a"), col("b")).as("k"),
      HofTwins.cosineHof(col("a"), col("b")).as("h")).head()
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
  }

  test("null array and length mismatch are null; interpreted eval matches codegen") {
    val df = Seq(
      (Some(Array(1f, 2f)), Some(Array(1f, 2f, 3f))), // length mismatch
      (None, Some(Array(1f, 2f)))) // null side
      .toDF("a", "b")
    val vals = df.select(VectorFunctions.cosine(col("a"), col("b"))).collect()
    assert(vals.forall(_.isNullAt(0)))

    // interpreted path (no whole-stage codegen) must agree with codegen
    val rows = Seq.fill(100)(
      (Array.fill(16)(rng.nextFloat()), Array.fill(16)(rng.nextFloat()))).toDF("a", "b")
    val on = rows.select(VectorFunctions.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val off = rows.select(VectorFunctions.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
      assert(on.toSeq == off.toSeq, "eval and codegen paths must agree bit-for-bit")
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
