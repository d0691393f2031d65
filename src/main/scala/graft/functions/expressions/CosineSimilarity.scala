package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over two numeric array
  * columns (SURVEY §4.2 item 4: the post-parity extension where a custom
  * `Expression` with codegen is warranted).
  *
  * Why an Expression rather than `zip_with`+`aggregate`: the built-in
  * higher-order functions allocate an intermediate array per row and invoke
  * a lambda per element; this kernel is a single fused loop over the two
  * `ArrayData` buffers — no allocation, stays inside whole-stage codegen —
  * which is the difference between memory-bound and compute-bound on a
  * billion-pair similarity join.
  *
  * Arithmetic contract (differential-testability): sequential ascending
  * double accumulation of dot, ‖a‖², ‖b‖² — bit-identical to the
  * `aggregate(zip_with(...))` formulation and to any engine that sums the
  * same arrays in index order. Null input, null ELEMENT, dimension
  * mismatch, zero norm → null (exactly the builtin twin's semantics).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    // decimals are rejected (not silently mis-evaluated): the codegen path
    // has no exact decimal getter, and decimal embeddings have no use case
    def elemOk(t: DataType): Boolean = t match {
      case ArrayType(et, _) =>
        et.isInstanceOf[NumericType] && !et.isInstanceOf[DecimalType]
      case _ => false
    }
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects two non-decimal numeric arrays, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def elemType(e: Expression): NumericType =
    e.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[NumericType]

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val arrA = a.asInstanceOf[ArrayData]
    val arrB = b.asInstanceOf[ArrayData]
    val ta = elemType(left)
    val tb = elemType(right)
    val n = arrA.numElements()
    // dimension mismatch and null ELEMENTS → null, matching the
    // zip_with/aggregate builtin twin exactly (the differential contract)
    if (n != arrB.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (arrA.isNullAt(i) || arrB.isNullAt(i)) return null
      val x = toDouble(arrA, i, ta)
      val y = toDouble(arrB, i, tb)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  private def toDouble(arr: ArrayData, i: Int, t: NumericType): Double = t match {
    case FloatType   => arr.getFloat(i).toDouble
    case DoubleType  => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType    => arr.getLong(i).toDouble
    case ShortType   => arr.getShort(i).toDouble
    case ByteType    => arr.getByte(i).toDouble
    case _: DecimalType => arr.get(i, t).asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
    case _           => 0.0
  }

  private def getter(t: NumericType, arr: String, i: String): String = t match {
    case FloatType   => s"(double) $arr.getFloat($i)"
    case DoubleType  => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType    => s"(double) $arr.getLong($i)"
    case ShortType   => s"(double) $arr.getShort($i)"
    case ByteType    => s"(double) $arr.getByte($i)"
    case _           => s"0.0d"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ta = elemType(left)
    val tb = elemType(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = ($n != $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double $x = ${getter(ta, a, i)};
         |  double $y = ${getter(tb, b, i)};
         |  $dot += $x * $y;
         |  $na += $x * $x;
         |  $nb += $y * $y;
         |}
         |if ($bad || $na == 0.0d || $nb == 0.0d) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
