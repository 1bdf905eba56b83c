package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, IntegerType, TypeCollection}

/** Native product-quantization kernels (encode / query LUT / ADC score).
  *
  * The composed higher-order-function forms (one `aggregate(zip_with(...))`
  * fold per centroid per subspace) build an m*k-branch expression tree —
  * hundreds of janino-compiled lambda folds whose compile time dwarfs the
  * data time at small scale and whose virtual-call depth hurts at large
  * scale. These kernels do the same arithmetic in tight loops inside
  * whole-stage codegen, with the codebook matrix attached as a plan
  * reference object (broadcast with the plan, never shuffled).
  *
  * Bit-compatibility contract: every double operation reproduces the
  * fold order of the HOF forms they replace (PqIndex.encode /
  * lookupTable / adcDot) — left-to-right accumulation from 0.0, float
  * operands widened to double per element — so the DuckDB oracle that
  * mirrors that fold order stays bit-identical, and argmin tie-breaks
  * (larger code id wins) are preserved.
  *
  * Reference for the custom-expression pattern (eval + doGenCode):
  * extensions/spark/kyuubi-extension-spark-3-5/src/main/scala/org/apache/spark/sql/catalyst/expressions/Zorder.scala:29-64.
  */
object PqExpr {

  /** Column API: PQ code array (one int code per subspace). */
  def encode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqEncodeExpr(Bridge.expression(vec), codebooks))

  /** Column API: ADC lookup table `lut[j][code] = dot(sub_j, centroid)`. */
  def lookupTable(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    Bridge.column(PqLutExpr(Bridge.expression(vec), codebooks))

  /** Column API: approximate dot product from codes + LUT. */
  def adcDot(lut: Column, codes: Column): Column =
    Bridge.column(PqAdcExpr(Bridge.expression(lut), Bridge.expression(codes)))
}

/** `array<float>` (or `array<double>`, e.g. IVF residuals) vector ->
  * `array<int>` of m PQ codes: per subspace, argmin squared-L2 against
  * the codebook, ties to the larger code id.
  */
case class PqEncodeExpr(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression with ExpectsInputTypes {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty))

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  private val m = codebooks.length
  private val k = codebooks(0).length
  private val dsub = codebooks(0)(0).length
  // float inputs widen per element, so both layouts do identical
  // double arithmetic
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      var bestNd = Double.NegativeInfinity
      var bestIdx = 0
      var i = 0
      while (i < k) {
        val c = cb(i)
        var d = 0.0
        var t = 0
        while (t < dsub) {
          val idx = j * dsub + t
          val v = if (isFloat) arr.getFloat(idx).toDouble else arr.getDouble(idx)
          val diff = v - c(t)
          d += diff * diff
          t += 1
        }
        val nd = -d
        if (nd >= bestNd) { bestNd = nd; bestIdx = i }
        i += 1
      }
      codes(j) = bestIdx
      j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
      val codes = ctx.freshName("codes")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val t = ctx.freshName("t")
      val cb = ctx.freshName("cb")
      val cent = ctx.freshName("cent")
      val d = ctx.freshName("d")
      val nd = ctx.freshName("nd")
      val diff = ctx.freshName("diff")
      val bestNd = ctx.freshName("bestNd")
      val bestIdx = ctx.freshName("bestIdx")
      val get = if (isFloat) s"((double) $c.getFloat($j * $dsub + $t))"
        else s"$c.getDouble($j * $dsub + $t)"
      s"""
         |int[] $codes = new int[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  final double[][] $cb = $cbRef[$j];
         |  double $bestNd = Double.NEGATIVE_INFINITY;
         |  int $bestIdx = 0;
         |  for (int $i = 0; $i < $k; $i++) {
         |    final double[] $cent = $cb[$i];
         |    double $d = 0.0;
         |    for (int $t = 0; $t < $dsub; $t++) {
         |      final double $diff = $get - $cent[$t];
         |      $d += $diff * $diff;
         |    }
         |    final double $nd = -$d;
         |    if ($nd >= $bestNd) { $bestNd = $nd; $bestIdx = $i; }
         |  }
         |  $codes[$j] = $bestIdx;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** `array<float>` query vector -> `array<array<double>>` ADC lookup
  * table: `lut[j][i] = dot(sub_j, codebooks[j][i])`.
  */
case class PqLutExpr(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression with ExpectsInputTypes {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty))

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_lut"

  private val m = codebooks.length
  private val k = codebooks(0).length
  private val dsub = codebooks(0)(0).length

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val lut = new Array[AnyRef](m)
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      val row = new Array[Double](k)
      var i = 0
      while (i < k) {
        val c = cb(i)
        var s = 0.0
        var t = 0
        while (t < dsub) {
          s += arr.getFloat(j * dsub + t).toDouble * c(t)
          t += 1
        }
        row(i) = s
        i += 1
      }
      lut(j) = new GenericArrayData(row)
      j += 1
    }
    new GenericArrayData(lut)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
      val lut = ctx.freshName("lut")
      val row = ctx.freshName("row")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val t = ctx.freshName("t")
      val cb = ctx.freshName("cb")
      val cent = ctx.freshName("cent")
      val s = ctx.freshName("s")
      s"""
         |Object[] $lut = new Object[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  final double[][] $cb = $cbRef[$j];
         |  double[] $row = new double[$k];
         |  for (int $i = 0; $i < $k; $i++) {
         |    final double[] $cent = $cb[$i];
         |    double $s = 0.0;
         |    for (int $t = 0; $t < $dsub; $t++) {
         |      $s += ((double) $c.getFloat($j * $dsub + $t)) * $cent[$t];
         |    }
         |    $row[$i] = $s;
         |  }
         |  $lut[$j] = new org.apache.spark.sql.catalyst.util.GenericArrayData($row);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($lut);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

/** (lut `array<array<double>>`, codes `array<int>`) -> approximate dot:
  * `sum_j lut[j][codes[j]]`, accumulated left-to-right from 0.0.
  */
case class PqAdcExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_adc"

  override def nullSafeEval(lutAny: Any, codesAny: Any): Any = {
    val lut = lutAny.asInstanceOf[ArrayData]
    val codes = codesAny.asInstanceOf[ArrayData]
    val m = codes.numElements()
    var acc = 0.0
    var j = 0
    while (j < m) {
      acc += lut.getArray(j).getDouble(codes.getInt(j))
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      s"""
         |final int $m = $codes.numElements();
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  $acc += $lut.getArray($j).getDouble($codes.getInt($j));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcExpr =
    copy(left = newLeft, right = newRight)
}
