package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Random-hyperplane LSH bucketing kernel — the per-row hot loop of every
  * embedding near-dup / LSH top-k query ([[graft.operators.Similarity]]).
  *
  * Why an Expression rather than the `aggregate(zip_with(slice(...)))`
  * composition it replaces: the higher-order-function form allocates an
  * intermediate array and invokes an interpreted lambda per element PER
  * PLANE (numPlanes·dim lambda calls per row); this kernel is one fused
  * loop over the vector with all plane dot products accumulated together,
  * inside whole-stage codegen. Same playbook as
  * [[CosineSimilarity]]/[[TextProfile]] — the HOF twin
  * ([[graft.operators.Similarity.hyperplaneBucketBuiltin]]) stays as the
  * differential cross-check.
  *
  * Arithmetic contract (bit-identical to the twin, which the DuckDB
  * oracles replay):
  *   - per plane p: dot = Σ_j vec(j)·planes(p)(j) in ascending j order,
  *     j < min(|vec|, planeLen); null ELEMENTS contribute 0 (`coalesce`),
  *     as do components beyond planeLen (zip_with's null padding)
  *   - bit p set iff dot >= 0 under SQL double comparison — NaN compares
  *     GREATER than everything (Spark's nan-safe ordering), so a NaN dot
  *     sets the bit
  *   - empty vector → every dot is 0.0 → ALL bits set (zip_with against
  *     `slice(plane, 1, greatest(size, 1))` always yields ≥1 padded term)
  *   - NULL vector → bucket 0, not null: each `when(null ≥ 0, bit)` falls
  *     to `otherwise(0)` in the composed form
  */
case class HyperplaneBuckets(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression with FloatArrayInput {

  require(planes.nonEmpty && planes.length <= 63,
    s"HyperplaneBuckets needs 1..63 planes (bits of one long), got ${planes.length}")
  require(planes.forall(_.length == planes.head.length),
    "HyperplaneBuckets: ragged plane matrix")

  override def dataType: DataType = LongType
  // null in → bucket 0 out (the composed form's semantics) — never null
  override def nullable: Boolean = false
  override def prettyName: String = "hyperplane_buckets"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else LshOps.hyperplaneBuckets(v.asInstanceOf[ArrayData], elemIsFloat, planes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        |${c.code}
        |long ${ev.value} = ${c.isNull}
        |  ? 0L
        |  : graft.functions.expressions.LshOps.hyperplaneBuckets(
        |      ${c.value}, $elemIsFloat, $planesRef);
        |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshOps {
  /** All plane sign bits for one vector in a single fused pass. See
    * [[HyperplaneBuckets]] for the exact arithmetic contract.
    */
  def hyperplaneBuckets(vec: ArrayData, isFloat: Boolean,
      planes: Array[Array[Double]]): Long = {
    val n = vec.numElements()
    val planeLen = planes(0).length
    val m = math.min(n, planeLen)
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      var dot = 0.0
      var j = 0
      while (j < m) {
        if (!vec.isNullAt(j)) {
          val x = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
          dot += x * plane(j)
        }
        j += 1
      }
      // SQL double comparison: NaN sorts greater than everything, so a NaN
      // dot satisfies >= 0 — primitive Java `>=` would say false
      if (dot >= 0.0 || java.lang.Double.isNaN(dot)) bucket |= 1L << p
      p += 1
    }
    bucket
  }
}
