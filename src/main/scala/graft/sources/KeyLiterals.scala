package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.types._

/** Key literals passed into generated code by reference. Spark inlines a
  * primitive literal's value into the Java source it generates, so a
  * filter on a new key is new source and a new Janino compile (on the
  * driver and again on the executor) although only the key changed. The
  * engine rewrites the constants of the frames it builds around a
  * caller's key predicate (point reads, DML rewrites, MoR position scans)
  * into [[KeyLiteral]]s, whose generated code is the same for every value.
  */
private[graft] object KeyLiterals {

  /** `df` with every constant primitive subexpression of its filters and
    * projections (a literal, or a cast of one, as `id = 5` on a BIGINT
    * column analyzes to) replaced by a [[KeyLiteral]] of its value. The
    * plan is otherwise unchanged and stays analyzed.
    */
  def byReference(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(df.sparkSession,
      keyedPlan(df.queryExecution.analyzed))

  // Both rewrites recurse through `mapChildren`, which asks whether the NEW
  // child equals the old one, so [[KeyLiteral.equals]] marks each swap as a
  // change. Catalyst's `transform*` ask the old node first and would keep
  // the plain literal.
  private def keyedPlan(plan: LogicalPlan): LogicalPlan = plan.mapChildren(keyedPlan) match {
    case f: Filter => f.copy(condition = keyed(f.condition))
    case p: Project =>
      p.copy(projectList = p.projectList.map(keyed(_).asInstanceOf[NamedExpression]))
    case other => other
  }

  private def keyed(e: Expression): Expression = e match {
    case c if c.foldable && byValue(c.dataType) && !c.isInstanceOf[NamedExpression] &&
        !c.isInstanceOf[KeyLiteral] && c.collectLeaves().forall(_.isInstanceOf[Literal]) =>
      scala.util.Try(c.eval()).toOption.filter(_ != null)
        .fold(c)(new KeyLiteral(_, c.dataType))
    case _ => e.mapChildren(keyed)
  }

  /** The types whose literals Spark inlines as Java primitives. */
  private def byValue(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** A [[Literal]] whose generated code reads its value from the generated
  * class's reference array instead of inlining it. Every pattern Spark
  * matches on `Literal(value, type)` still sees the value: parquet filter
  * pushdown, constant folding, stats pruning. A rule that rebuilds the
  * literal yields a plain, inlined `Literal` again, which costs a compile
  * and nothing else.
  *
  * It equals only another `KeyLiteral` of the same value, while a plain
  * `Literal` equals it back (`Literal.equals` is Spark's). Tree rewrites
  * that compare the new node against the old therefore see the swap; the
  * two evaluate identically, so an equality check in either direction can
  * cost at most a missed reuse, never a different result.
  */
private[graft] final class KeyLiteral(v: Any, t: DataType) extends Literal(v, t) {
  override def equals(other: Any): Boolean =
    other.isInstanceOf[KeyLiteral] && super.equals(other)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("key", value, CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(JavaCode.expression(
      s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
  }
}
