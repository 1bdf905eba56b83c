package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector primitives over `array<float>` embedding columns, written as
  * pure Catalyst higher-order functions (zip_with / aggregate) with no
  * UDF boundary. Accumulation is in double.
  *
  * The hot one — [[cosine]] — routes through the native
  * [[org.apache.spark.sql.graft.CosineExpr]] kernel: HOFs evaluate
  * interpreted (outside whole-stage codegen) and dominate pair-join
  * stages that score 100k+ candidate pairs. The kernel reproduces
  * the fold order of its test-scope HOF twin `HofTwins.cosineHof`
  * bit-for-bit (VecKernelSpec pins it), so
  * every oracle built against the HOF form still matches exactly.
  */
object VectorFunctions {

  /** Dot product of two equal-length vectors (native kernel; test-scope
    * `HofTwins.dotHof` is VecKernelSpec's bit-identity reference).
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VecExpr.dot(a, b)

  /** Euclidean norm. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity; 0 for zero-norm inputs (native codegen kernel). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VecExpr.cosine(a, b)

  /** Squared L2 distance (native kernel; test-scope `HofTwins.l2SqHof`
    * is the spec reference).
    */
  def l2Sq(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VecExpr.l2Sq(a, b)

  /** The deterministic pseudo-random hyperplane family for
    * [[hyperplaneBucket]] — also dumped by graft.Verify so the DuckDB
    * oracle can recompute the bucketing independently.
    */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit LSH bucket id from `nPlanes` fixed pseudo-random
    * hyperplanes. Planes are generated deterministically from `seed`
    * on the driver and inlined as literals — at scale they broadcast
    * with the plan, never shuffled.
    */
  def hyperplaneBucket(v: Column, dim: Int, nPlanes: Int, seed: Long): Column = {
    val planes = hyperplanes(dim, nPlanes, seed)
    val bits = planes.zipWithIndex.map { case (plane, i) =>
      val planeCol = array(plane.map(x => lit(x)): _*)
      when(dot(v, planeCol) >= 0.0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }
}
