package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.langMarkers
import graft.functions.VectorFunctions.{dot, l2Norm}

/** The composed higher-order-function forms the native kernels
  * replaced, kept as the specs' bit-identity references:
  * TextKernelSpec, VecKernelSpec and IvfSpec compare each kernel with
  * its twin here. No main code calls them.
  */
object HofTwins {

  /** The composed-HOF shingle form the kernel replaced — kept as the
    * bit-identity reference (TextKernelSpec compares the two on every
    * fixture corpus).
    */
  def shinglesOfTokensHof(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** The composed per-band slice/cast/concat form the kernel replaced. */
  def bandKeysHof(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          transform(slice(signature, b * rowsPerBand + 1, rowsPerBand),
            x => x.cast("string")))).as("key"))
    }: _*)

  /** The interpreted zip_with/filter/size form the kernel replaced. */
  def zipEqCountHof(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), p => p))

  /** The composed-HOF 64-bit SimHash the kernel replaced — kept as the
    * bit-identity reference for TextKernelSpec.
    */
  def simhash64OfHashesHof(hashes: Column): Column = {
    val bitCols = (0 until 64).map { i =>
      val cnt = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(cnt > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** The sort-then-run-count fold the kernel replaced — TextKernelSpec's
    * bit-identity reference (the sum is over distinct tokens, so the
    * kernel's hash-counting pass produces the identical integer).
    */
  def entropyTermsMicroHof(toks: Column): Column = {
    def contrib(c: Column): Column =
      when(c > 0L, c * floor(log(c.cast("double")) * 1000000).cast("long"))
        .otherwise(lit(0L))
    aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("acc")),
      (st, x) => {
        val same = st.getField("run") > 0L && x === st.getField("prev")
        struct(
          x.as("prev"),
          when(same, st.getField("run") + 1L).otherwise(lit(1L)).as("run"),
          when(same, st.getField("acc"))
            .otherwise(st.getField("acc") + contrib(st.getField("run"))).as("acc"))
      },
      st => st.getField("acc") + contrib(st.getField("run")))
  }

  /** The composed per-element md5/substring/conv form the kernel
    * replaced.
    */
  def md5Prefix32HashesHof(arr: Column): Column =
    transform(arr, g => conv(substring(md5(g), 1, 8), 16, 10).cast("long"))

  /** The composed-HOF guesser the kernel replaced — TextKernelSpec's
    * bit-identity reference.
    */
  def langGuessHof(toks: Column): Column = {
    val scores = langMarkers.map { case (lang, markers) =>
      val score = markers.map(m =>
        size(filter(toks, t => t === m))).reduce(_ + _)
      (lang, score)
    }
    // argmax with deterministic preference order (first listed wins ties)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scores.foldRight(lit("und"): Column) { case ((lang, score), acc) =>
      when(score === best && best > 0, lang).otherwise(acc)
    }
    pick
  }

  /** The composed-HOF dot the kernel replaced — spec reference. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** The composed-HOF cosine the kernel replaced — kept as the
    * bit-identity reference (VecKernelSpec compares the two on every
    * path the queries use).
    */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0.0, 0.0).otherwise(d / n)
  }

  /** The composed-HOF squared-L2 the kernel replaced — spec reference. */
  def l2SqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val diff = x.cast("double") - y.cast("double")
      diff * diff
    }), lit(0.0), (acc, x) => acc + x)

  /** The O(u·n) composed-HOF form the kernel replaced — kept as the
    * bit-identity reference.
    */
  def topElementFracHof(arr: Column): Column =
    array_max(transform(array_distinct(arr), g =>
      size(filter(arr, x => x === g)))).cast("double") / size(arr)
}
