package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native kernel for int8 dequantization (`x ≈ code / scale`) — the
  * codegen'd form of `Similarity.dequantizeInt8Builtin` (the differential
  * twin), one allocation-lean loop instead of a conditional pair of
  * `transform` passes.
  *
  * Semantics pinned to the builtin twin, including its corner branches:
  *   - null INPUT struct → null
  *   - null `codes` → null (both builtin branches transform a null array)
  *   - `scale == 0.0` → EVERY position becomes 0.0, null code elements
  *     included (the builtin's `transform(codes, _ => 0.0)` ignores the
  *     element entirely)
  *   - null `scale` → every position null (`c / null`), length preserved
  *   - otherwise: null code element → null, else `code / scale`
  */
case class Int8Dequantize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      // names checked as well as types/positions: the kernel reads the
      // struct positionally, and the builtin differential twin reads it BY
      // NAME — accepting name-mismatched structs here would let the two
      // diverge on inputs only one of them admits
      case StructType(fields) if fields.length >= 2 &&
          fields(0).name == "scale" && fields(0).dataType == DoubleType &&
          fields(1).name == "codes" &&
          fields(1).dataType.isInstanceOf[ArrayType] &&
          fields(1).dataType.asInstanceOf[ArrayType].elementType == ByteType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_dequantize expects struct<scale: double, codes: array<tinyint>> " +
            s"(field names included), got ${other.simpleString}")
    }

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    if (row.isNullAt(1)) return null
    val codes = row.getArray(1)
    val n = codes.numElements()
    val out = new Array[Any](n)
    if (row.isNullAt(0)) {
      // null scale: every position null (c / null), length preserved
      return new GenericArrayData(out)
    }
    val scale = row.getDouble(0)
    var i = 0
    if (scale == 0.0) {
      while (i < n) { out(i) = 0.0; i += 1 }
    } else {
      while (i < n) {
        if (!codes.isNullAt(i)) out(i) = codes.getByte(i).toDouble / scale
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gad = classOf[GenericArrayData].getName
    nullSafeCodeGen(ctx, ev, row => {
      val codes = ctx.freshName("codes")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val scale = ctx.freshName("scale")
      val out = ctx.freshName("out")
      s"""
         |if ($row.isNullAt(1)) {
         |  ${ev.isNull} = true;
         |} else {
         |  org.apache.spark.sql.catalyst.util.ArrayData $codes = $row.getArray(1);
         |  int $n = $codes.numElements();
         |  Object[] $out = new Object[$n];
         |  if (!$row.isNullAt(0)) {
         |    double $scale = $row.getDouble(0);
         |    if ($scale == 0.0d) {
         |      for (int $i = 0; $i < $n; $i++) {
         |        $out[$i] = java.lang.Double.valueOf(0.0d);
         |      }
         |    } else {
         |      for (int $i = 0; $i < $n; $i++) {
         |        if (!$codes.isNullAt($i)) {
         |          $out[$i] = java.lang.Double.valueOf(
         |            ((double) $codes.getByte($i)) / $scale);
         |        }
         |      }
         |    }
         |  }
         |  ${ev.value} = new $gad($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
