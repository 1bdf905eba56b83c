package org.apache.spark.sql.graft

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the text-pipeline hot path (optimization round,
  * guide §1.2 step 2: per-task work — prefer codegen-able expressions
  * over interpreted forms).
  *
  * The composed higher-order-function forms these replace
  * (`transform(sequence(...), i => concat_ws(" ", slice(...)))` for
  * shingles, 60 `aggregate` folds for the md5 SimHash, per-marker
  * `size(filter(...))` for the language guesser) evaluate INTERPRETED —
  * every element pays lambda virtual calls and intermediate
  * GenericArrayData allocations. Measured on the sf0.1 fixture (5 000
  * docs, ~50 tokens each) the shingle pipeline alone cost ~3 s of
  * single-task time per consuming query; these kernels do the same
  * work in one tight loop per document.
  *
  * Bit-compatibility contract (pinned by TextKernelSpec): each kernel
  * reproduces its HOF twin exactly — same shingle strings in the same
  * order, same xxhash64 values (seed 42, the `xxhash64()` builtin),
  * same md5-nibble SimHash bits, same null propagation (null input →
  * null; a null token element joins like `concat_ws` (skipped), hashes
  * like `xxhash64(null)` (the seed), and votes −1 on every SimHash bit
  * like the `when(...).otherwise(-1)` fold). Same custom-expression
  * pattern as [[MinHashSignatureExpr]] / [[CosineExpr]].
  */
object TextKernelExprs {
  def shingles(toks: Column, n: Int, distinct: Boolean): Column =
    Bridge.column(ShinglesExpr(Bridge.expression(toks), n, distinct))
  def arrayXxh64(arr: Column): Column =
    Bridge.column(ArrayXxh64Expr(Bridge.expression(arr)))
  def simhashMd5(toks: Column): Column =
    Bridge.column(SimHashMd5Expr(Bridge.expression(toks)))
  def simhash64(hashes: Column): Column =
    Bridge.column(SimHash64Expr(Bridge.expression(hashes)))
  def langGuess(toks: Column, markers: Seq[(String, Seq[String])]): Column =
    Bridge.column(LangGuessExpr(Bridge.expression(toks), markers))
  def topElementCount(arr: Column): Column =
    Bridge.column(TopElementCountExpr(Bridge.expression(arr)))
  def sortedLongIntersectCount(a: Column, b: Column): Column =
    Bridge.column(SortedLongIntersectCountExpr(
      Bridge.expression(a), Bridge.expression(b)))
  def arrayMd5Prefix32(arr: Column): Column =
    Bridge.column(ArrayMd5Prefix32Expr(Bridge.expression(arr)))
  def zipEqCount(a: Column, b: Column): Column =
    Bridge.column(ZipEqCountExpr(Bridge.expression(a), Bridge.expression(b)))
  def entropyTermsMicro(toks: Column): Column =
    Bridge.column(EntropyTermsMicroExpr(Bridge.expression(toks)))

  private[graft] def requireStringArray(e: Expression, name: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"$name needs array<string>, got $t")
    }
}

/** Token n-gram shingles of a token array — the kernel twin of
  * `TextFunctions.shinglesOfTokens` (optionally fused with
  * `array_distinct`, first-occurrence order): fewer than `n` tokens →
  * one shingle of the whole (space-joined) token array; otherwise one
  * shingle per window of `n` consecutive tokens. Null elements join
  * like `concat_ws`: skipped.
  */
case class ShinglesExpr(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingles_kernel"
  override def checkInputDataTypes(): TypeCheckResult =
    TextKernelExprs.requireStringArray(child, prettyName)

  private def joinRange(arr: ArrayData, from: Int, len: Int): UTF8String = {
    val parts = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      // null elements stay null; UTF8String.concatWs skips them, which
      // is exactly concat_ws's semantics
      parts(i) = arr.getUTF8String(from + i)
      i += 1
    }
    UTF8String.concatWs(ShinglesExpr.SPACE, parts: _*)
  }

  def compute(toks: ArrayData): ArrayData = {
    val m = toks.numElements()
    if (m < n) {
      new GenericArrayData(Array[Any](joinRange(toks, 0, m)))
    } else {
      val count = m - n + 1
      if (distinct) {
        val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
        var i = 0
        while (i < count) { seen.add(joinRange(toks, i, n)); i += 1 }
        val out = new Array[Any](seen.size)
        val it = seen.iterator()
        var j = 0
        while (it.hasNext) { out(j) = it.next(); j += 1 }
        new GenericArrayData(out)
      } else {
        val out = new Array[Any](count)
        var i = 0
        while (i < count) { out(i) = joinRange(toks, i, n); i += 1 }
        new GenericArrayData(out)
      }
    }
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shinglesKernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

object ShinglesExpr {
  private val SPACE = UTF8String.fromString(" ")
}

/** xxhash64 (seed 42 — the `xxhash64()` builtin's) of every element of
  * a string array, in one pass — the kernel twin of
  * `transform(arr, s => xxhash64(s))`. A null element hashes to the
  * seed, exactly like the builtin with a null input.
  */
case class ArrayXxh64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_array_xxhash64"
  override def checkInputDataTypes(): TypeCheckResult =
    TextKernelExprs.requireStringArray(child, prettyName)

  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      out(i) =
        if (arr.isNullAt(i)) 42L
        else XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("xxh64Kernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayXxh64Expr =
    copy(child = newChild)
}

/** 60-bit md5-nibble SimHash of a token array in one pass — the kernel
  * twin of `simhashMd5OfDigits(transform(toks, md5Digits15))`: per
  * token, md5's first 15 hex digits are 15 nibble values; bit `i` of
  * the fingerprint polls nibble `i/4`'s bit `i%4` (+1 if set, −1 if
  * not) across tokens and is set iff the poll is positive. A null
  * token votes −1 on every bit (`when(null > 0, 1).otherwise(-1)` in
  * the fold), and a NULL array yields 0 — the fold's null counters all
  * fail `cnt > 0` and every bit lands in `otherwise(0L)`.
  */
case class SimHashMd5Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash_md5"
  override def checkInputDataTypes(): TypeCheckResult =
    TextKernelExprs.requireStringArray(child, prettyName)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else compute(v.asInstanceOf[ArrayData])
  }

  def compute(toks: ArrayData): Long = {
    val m = toks.numElements()
    val cnt = new Array[Int](60)
    val md = MessageDigest.getInstance("MD5")
    var t = 0
    while (t < m) {
      if (toks.isNullAt(t)) {
        var i = 0
        while (i < 60) { cnt(i) -= 1; i += 1 }
      } else {
        md.reset()
        val digest = md.digest(toks.getUTF8String(t).getBytes)
        var i = 0
        while (i < 60) {
          // hex digit d = i/4 (0-based): high nibble of byte d/2 when d
          // even, low when odd — md5's hex string in byte order
          val d = i / 4
          val b = digest(d / 2) & 0xFF
          val nibble = if (d % 2 == 0) b >>> 4 else b & 0xF
          if ((nibble & (1 << (i % 4))) != 0) cnt(i) += 1 else cnt(i) -= 1
          i += 1
        }
      }
      t += 1
    }
    var fp = 0L
    var i = 0
    while (i < 60) {
      if (cnt(i) > 0) fp |= 1L << i
      i += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("simhashMd5Kernel", this, getClass.getName)
    val childGen = child.genCode(ctx)
    val guard = if (child.nullable) s"${childGen.isNull} ? 0L : " else ""
    ev.copy(
      code = code"""
        ${childGen.code}
        long ${ev.value} = $guard$ref.compute(${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5Expr =
    copy(child = newChild)
}

/** 64-bit SimHash over a pre-hashed token array — the kernel twin of
  * `simhash64OfHashes`: bit `i` polls bit `i` of each hash (+1 set /
  * −1 clear) and lands set iff the poll is positive. A null element
  * votes −1 on every bit (matching the fold's `otherwise(-1)`), and a
  * NULL array yields 0 — the fold's null counters all fail `cnt > 0`
  * and every bit lands in `otherwise(0L)`.
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash64"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<long>, got $t")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else compute(v.asInstanceOf[ArrayData])
  }

  def compute(hs: ArrayData): Long = {
    val m = hs.numElements()
    val cnt = new Array[Int](64)
    var t = 0
    while (t < m) {
      if (hs.isNullAt(t)) {
        var i = 0
        while (i < 64) { cnt(i) -= 1; i += 1 }
      } else {
        val h = hs.getLong(t)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) cnt(i) += 1 else cnt(i) -= 1
          i += 1
        }
      }
      t += 1
    }
    var fp = 0L
    var i = 0
    while (i < 64) {
      if (cnt(i) > 0) fp |= 1L << i
      i += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("simhash64Kernel", this, getClass.getName)
    val childGen = child.genCode(ctx)
    val guard = if (child.nullable) s"${childGen.isNull} ? 0L : " else ""
    ev.copy(
      code = code"""
        ${childGen.code}
        long ${ev.value} = $guard$ref.compute(${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** Marker-token language guesser in one pass — the kernel twin of
  * `TextFunctions.langGuess`: score each language by total marker
  * hits over the token array, return the FIRST language (marker-list
  * order) whose score equals the maximum, "und" when every score is 0.
  * Null tokens match no marker (the HOF's `t === m` is null there and
  * `filter` drops it).
  */
case class LangGuessExpr(child: Expression,
    markers: Seq[(String, Seq[String])]) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_lang_guess_kernel"
  override def checkInputDataTypes(): TypeCheckResult =
    TextKernelExprs.requireStringArray(child, prettyName)

  // a NULL token array scores every language null; `when(score === best
  // && best > 0, ...)` is never true and the HOF falls through to "und"
  def und(): UTF8String = LangGuessExpr.UND

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) und() else compute(v.asInstanceOf[ArrayData])
  }

  @transient private lazy val langs: Array[UTF8String] =
    markers.map(m => UTF8String.fromString(m._1)).toArray
  // marker → language index; marker lists are tiny and disjoint
  @transient private lazy val markerLang: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    markers.zipWithIndex.foreach { case ((_, ms), li) =>
      ms.foreach(w => m.put(UTF8String.fromString(w), Integer.valueOf(li)))
    }
    m
  }

  def compute(toks: ArrayData): UTF8String = {
    val m = toks.numElements()
    val scores = new Array[Int](markers.length)
    var t = 0
    while (t < m) {
      if (!toks.isNullAt(t)) {
        val li = markerLang.get(toks.getUTF8String(t))
        if (li != null) scores(li.intValue()) += 1
      }
      t += 1
    }
    var best = 0
    var i = 0
    while (i < scores.length) { if (scores(i) > best) best = scores(i); i += 1 }
    if (best == 0) LangGuessExpr.UND
    else {
      var pick = 0
      while (scores(pick) != best) pick += 1
      langs(pick)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("langGuessKernel", this, getClass.getName)
    val childGen = child.genCode(ctx)
    val guard = if (child.nullable) s"${childGen.isNull} ? $ref.und() : " else ""
    ev.copy(
      code = code"""
        ${childGen.code}
        UTF8String ${ev.value} = $guard$ref.compute(${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LangGuessExpr =
    copy(child = newChild)
}

object LangGuessExpr {
  private val UND = UTF8String.fromString("und")
}

/** Count of the most frequent element of a string array in one
  * hash-counting pass — the kernel twin of
  * `array_max(transform(array_distinct(arr), g => size(filter(arr,
  * x => x === g))))`, which re-scans the array per distinct element
  * (O(u·n) interpreted element compares per document). Null elements:
  * `x === g` is null for them under every g, so `filter` drops them —
  * they count for no element but still contribute a 0 to the max via
  * their array_distinct slot (an all-null array → 0); an empty array
  * yields `array_max(empty)` = null. Both matched exactly.
  */
case class TopElementCountExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_top_element_count"
  override def checkInputDataTypes(): TypeCheckResult =
    TextKernelExprs.requireStringArray(child, prettyName)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    if (m == 0) return null
    val counts = new java.util.HashMap[UTF8String, Integer](m * 2)
    var best = 0
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val prev = counts.get(s)
        val c = if (prev == null) 1 else prev.intValue() + 1
        counts.put(s, Integer.valueOf(c))
        if (c > best) best = c
      }
      i += 1
    }
    java.lang.Integer.valueOf(best)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topCountKernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      Object r = $ref.nullSafeEval($c);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((java.lang.Integer) r).intValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): TopElementCountExpr =
    copy(child = newChild)
}

/** Intersection size of two SORTED ascending distinct long arrays via
  * one merge pass — the kernel twin of `size(array_intersect(a, b))`
  * for that input shape (e.g. two `array_sort(collect_set(...))`
  * sides of a pair-verification join). `array_intersect` builds a hash
  * set per ROW; on a verify stage scoring 10⁵ candidate pairs the
  * per-pair allocation dominates. Null array → null (array_intersect
  * is null-intolerant); sorted distinct inputs carry no null elements
  * by construction, and the merge counts each common value once,
  * exactly like array_intersect's distinct semantics.
  */
case class SortedLongIntersectCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sorted_intersect_count"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two array<long> inputs, got $l / $r")
    }

  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mergeKernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongIntersectCountExpr =
    copy(left = newLeft, right = newRight)
}

/** Count of positions where two long arrays agree — the kernel twin of
  * `size(filter(zip_with(a, b, (x, y) => x === y), p => p))`, the
  * MinHash signature-agreement estimator's inner loop (one interpreted
  * zip_with + filter + size per candidate pair otherwise). Exact
  * semantics of that composition: zip_with pads the shorter array with
  * nulls, `===` of a null is null, and `filter` drops nulls — so only
  * positions `i < min(la, lb)` with both elements non-null and equal
  * count. Null array → null (zip_with and size are null-intolerant
  * under the non-legacy sizeOfNull default).
  */
case class ZipEqCountExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_zip_eq_count"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two array<long> inputs, got $l / $r")
    }

  def compute(a: ArrayData, b: ArrayData): Int = {
    val m = math.min(a.numElements(), b.numElements())
    var i = 0
    var n = 0
    while (i < m) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) n += 1
      i += 1
    }
    n
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("zipEqKernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZipEqCountExpr =
    copy(left = newLeft, right = newRight)
}

/** LSH band keys of a MinHash signature in one pass — the kernel twin
  * of `TextFunctions.bandKeys`'s per-band
  * `xxhash64(concat_ws(",", transform(slice(sig, b·r+1, r), cast-to-
  * string)))` composition (bands × interpreted slice/cast/concat per
  * row): per band, the decimal-string join of that signature slice is
  * hashed with the `xxhash64()` builtin's seed. Output rows are
  * (band, key) structs, byte-identical to the HOF form — including on
  * a NULL signature, where `concat_ws` SKIPS the null slice and every
  * band keys on xxhash64("") (the HOF form never returns null).
  */
case class BandKeysExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(bands >= 1 && rowsPerBand >= 1)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) compute(new GenericArrayData(Array.empty[Any]))
    else compute(v.asInstanceOf[ArrayData])
  }

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("key", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_band_keys"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<long>, got $t")
  }

  def compute(sig: ArrayData): ArrayData = {
    val n = sig.numElements()
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(rowsPerBand * 21)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var i = b * rowsPerBand
      val end = math.min(i + rowsPerBand, n) // slice truncates at the end
      var first = true
      while (i < end) {
        if (!first) sb.append(',')
        // a null slot would be SKIPPED by concat_ws; signature arrays
        // are containsNull=false so the branch never fires in practice
        if (!sig.isNullAt(i)) { sb.append(sig.getLong(i)); first = false }
        i += 1
      }
      val key = XXH64.hashUTF8String(UTF8String.fromString(sb.toString), 42L)
      out(b) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](b, key))
      b += 1
    }
    new GenericArrayData(out)
  }

  // null signature → the same 16 hash("")-keyed structs the HOF emits
  def computeNullable(sig: ArrayData): ArrayData =
    if (sig == null) compute(new GenericArrayData(Array.empty[Any])) else compute(sig)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("bandKeysKernel", this, getClass.getName)
    val childGen = child.genCode(ctx)
    val in = if (child.nullable) s"${childGen.isNull} ? null : ${childGen.value}" else s"${childGen.value}"
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $ref.computeNullable($in);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BandKeysExpr =
    copy(child = newChild)
}

/** Oracle-portable 32-bit md5-prefix hash of every element of a string
  * array in one pass — the kernel twin of
  * `transform(arr, g => conv(substring(md5(g), 1, 8), 16, 10)
  * .cast("long"))`, the per-gram fingerprint hash of the winnowing
  * pipeline ([[graft.operators.Dedup.winnowFingerprints]]). The HOF
  * form pays an interpreted lambda plus a 32-char hex string, a
  * substring and a base-16 reparse per gram; the kernel reads the
  * first four digest bytes directly — value-identical, since conv of
  * the first 8 hex chars IS the first 4 bytes as an unsigned int.
  * Null elements: md5(null) → null propagates through the composition,
  * so the output slot is null (containsNull = true).
  */
case class ArrayMd5Prefix32Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_array_md5_prefix32"
  override def checkInputDataTypes(): TypeCheckResult =
    TextKernelExprs.requireStringArray(child, prettyName)

  def compute(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val out = new Array[Any](m)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        out(i) = java.lang.Long.valueOf(
          ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
            ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL))
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("md5Prefix32Kernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ArrayMd5Prefix32Expr =
    copy(child = newChild)
}

/** Σ over distinct tokens of c·⌊ln(c)·10⁶⌋ in one hash-counting pass —
  * the kernel twin of the sort-then-run-count fold in test-scope
  * `graft.functions.HofTwins.entropyTermsMicroHof` (d56's integer
  * entropy numerator). The sum
  * is over DISTINCT values, so counting via hash map instead of
  * sorting changes nothing; each count's term is the same
  * `floor(log(c) * 1e6)` double math the fold computes — Spark's `log()`
  * evaluates `java.lang.StrictMath.log` in both interpreted and codegen
  * paths, so the kernel uses StrictMath too (Math.log is a JIT intrinsic
  * with 1-ulp tolerance; a count where they differ near a
  * `floor(ln(c)·1e6)` integer boundary would silently diverge from the
  * HOF twin). Null elements: the fold gives every null token its
  * own run of length 1 (null never equals the previous token), and
  * contrib(1) = 0 — array_sort groups the nulls at the end so they
  * split no real run — hence the kernel simply skips them. Null array
  * → null, like `aggregate` over a null array.
  */
case class EntropyTermsMicroExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_entropy_terms_micro"
  override def checkInputDataTypes(): TypeCheckResult =
    TextKernelExprs.requireStringArray(child, prettyName)

  def compute(arr: ArrayData): Long = {
    val m = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, java.lang.Long](m * 2)
    var i = 0
    while (i < m) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val prev = counts.get(s)
        counts.put(s, java.lang.Long.valueOf(
          if (prev == null) 1L else prev.longValue() + 1L))
      }
      i += 1
    }
    var acc = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().longValue()
      acc += c * math.floor(java.lang.StrictMath.log(c.toDouble) * 1000000).toLong
    }
    acc
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("entropyKernel", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): EntropyTermsMicroExpr =
    copy(child = newChild)
}
