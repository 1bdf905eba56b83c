package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine-similarity kernel.
  *
  * The composed higher-order-function form (`aggregate(zip_with(...))`
  * dot plus two `aggregate` norms) is NOT whole-stage-codegen-able —
  * HOFs evaluate interpreted, allocate an intermediate array per row,
  * and take lambda virtual calls per element, which dominates pair-join
  * stages that score hundreds of thousands of candidate pairs
  * (SemDedup / embedding near-dup / ANN scoring). This kernel does the
  * same arithmetic in one tight loop inside whole-stage codegen — same
  * motivation and pattern as [[PqExpr]].
  *
  * Bit-compatibility contract (pinned by VecKernelSpec): accumulation
  * is left-to-right from 0.0 for each of the three sums, elements
  * widened to double before multiplying, result
  * `dot / (sqrt(na) * sqrt(nb))` with 0.0 for a zero-norm input —
  * exactly test-scope `graft.functions.HofTwins.cosineHof` and the
  * DuckDB oracle's `list_reduce` mirror. Null propagation matches the HOF form: null
  * array, null element, or length mismatch → null.
  */
object VecExpr {
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineExpr(Bridge.expression(a), Bridge.expression(b)))
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotExpr(Bridge.expression(a), Bridge.expression(b)))
  def l2Sq(a: Column, b: Column): Column =
    Bridge.column(L2SqExpr(Bridge.expression(a), Bridge.expression(b)))
}

case class CosineExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")

  @inline private def get(arr: ArrayData, i: Int, t: DataType): Double =
    if (t == FloatType) arr.getFloat(i).toDouble else arr.getDouble(i)

  override def nullSafeEval(aAny: Any, bAny: Any): Any = {
    val a = aAny.asInstanceOf[ArrayData]
    val b = bAny.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val ta = elemType(left).get
    val tb = elemType(right).get
    var d = 0.0
    var sa = 0.0
    var sb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = get(a, i, ta)
      val y = get(b, i, tb)
      d += x * y
      sa += x * x
      sb += y * y
      i += 1
    }
    val norm = math.sqrt(sa) * math.sqrt(sb)
    if (norm == 0.0) 0.0 else d / norm
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(arr: String, i: String, t: DataType): String =
        if (t == FloatType) s"((double) $arr.getFloat($i))" else s"$arr.getDouble($i)"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val sa = ctx.freshName("sa")
      val sb = ctx.freshName("sb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val norm = ctx.freshName("norm")
      val bad = ctx.freshName("bad")
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |double $d = 0.0; double $sa = 0.0; double $sb = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    final double $x = ${getter(a, i, elemType(left).get)};
         |    final double $y = ${getter(b, i, elemType(right).get)};
         |    $d += $x * $y;
         |    $sa += $x * $x;
         |    $sb += $y * $y;
         |  }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  final double $norm = java.lang.Math.sqrt($sa) * java.lang.Math.sqrt($sb);
         |  ${ev.value} = ($norm == 0.0) ? 0.0 : $d / $norm;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineExpr =
    copy(left = newLeft, right = newRight)
}

/** Native dot-product kernel — same motivation, bit-contract and
  * pattern as [[CosineExpr]]: left-to-right double accumulation from
  * 0.0, elements widened before multiplying; null array, null element
  * or length mismatch → null (`zip_with` pads the shorter side with
  * nulls, which nulls the HOF fold the same way).
  */
case class DotExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")

  @inline private def get(arr: ArrayData, i: Int, t: DataType): Double =
    if (t == FloatType) arr.getFloat(i).toDouble else arr.getDouble(i)

  override def nullSafeEval(aAny: Any, bAny: Any): Any = {
    val a = aAny.asInstanceOf[ArrayData]
    val b = bAny.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val ta = elemType(left).get
    val tb = elemType(right).get
    var d = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      d += get(a, i, ta) * get(b, i, tb)
      i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(arr: String, i: String, t: DataType): String =
        if (t == FloatType) s"((double) $arr.getFloat($i))" else s"$arr.getDouble($i)"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val bad = ctx.freshName("bad")
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |double $d = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $d += ${getter(a, i, elemType(left).get)} * ${getter(b, i, elemType(right).get)};
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $d; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotExpr =
    copy(left = newLeft, right = newRight)
}

/** Native squared-L2 kernel — the [[DotExpr]] shape with
  * `(x−y)·(x−y)` terms; same fold order and null contract as the
  * `aggregate(zip_with(...))` form it replaces.
  */
case class L2SqExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_l2sq"

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")

  @inline private def get(arr: ArrayData, i: Int, t: DataType): Double =
    if (t == FloatType) arr.getFloat(i).toDouble else arr.getDouble(i)

  override def nullSafeEval(aAny: Any, bAny: Any): Any = {
    val a = aAny.asInstanceOf[ArrayData]
    val b = bAny.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val ta = elemType(left).get
    val tb = elemType(right).get
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val diff = get(a, i, ta) - get(b, i, tb)
      s += diff * diff
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(arr: String, i: String, t: DataType): String =
        if (t == FloatType) s"((double) $arr.getFloat($i))" else s"$arr.getDouble($i)"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val diff = ctx.freshName("diff")
      val bad = ctx.freshName("bad")
      s"""
         |final int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |double $s = 0.0;
         |if (!$bad) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    final double $diff = ${getter(a, i, elemType(left).get)} - ${getter(b, i, elemType(right).get)};
         |    $s += $diff * $diff;
         |  }
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqExpr =
    copy(left = newLeft, right = newRight)
}
