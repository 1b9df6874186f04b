package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, IntegralDivide, LeafExpression, Literal, NamedExpression, Pmod, Remainder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A literal whose generated code reads its value from the stage's
  * `references` array into a field, once per task, instead of writing
  * it into the source. Queries that differ only in such values generate
  * byte-identical source and reuse one compiled class from Spark's
  * cache. Not foldable; it renders (`toString`, `sql`) exactly like the
  * literal, so plan text is unchanged.
  */
final case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {

  private def literal = Literal(value, dataType)

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override def toString: String = literal.toString

  override def sql: String = literal.sql

  // boxed Java equality: NaN equals NaN and 0.0 differs from -0.0, so
  // expression dedup never merges two values that compute differently
  override def equals(other: Any): Boolean = other match {
    case h: HoistedLiteral => dataType == h.dataType && java.util.Objects.equals(value, h.value)
    case _ => false
  }

  override def hashCode: Int = 31 * dataType.hashCode + value.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("literal", value)
    val field = ctx.addMutableState(javaType, "literal",
      v => s"$v = $boxed.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Turns the non-null numeric, date and timestamp literals that are
  * direct operands of a comparison or arithmetic operator, in filter
  * conditions and projection lists, into HoistedLiterals. Runs on the
  * physical plan before whole-stage codegen collapses it; scans keep
  * their real literals for partition pruning, pushdown and skipping.
  * `IN` lists, patterns, and string and decimal literals are left
  * alone (Spark already passes the last two by reference), and so is
  * the divisor of `div`, `%` and `pmod`: the JIT turns division by a
  * constant into a multiply and shift, and `id % 7` with the 7 read
  * from a field ran ~2x slower per row.
  */
object HoistLiterals extends Rule[SparkPlan] {

  private val hoistable: Set[DataType] = Set(IntegerType, LongType, ShortType, ByteType,
    FloatType, DoubleType, DateType, TimestampType)

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = hoist(f.condition)
      if (c eq f.condition) f else f.copy(condition = c)
    case p: ProjectExec =>
      val l = p.projectList.map(e => hoist(e).asInstanceOf[NamedExpression])
      if (l == p.projectList) p else p.copy(projectList = l)
  }

  private def hoist(e: Expression): Expression = e.transformUp {
    case op @ (_: IntegralDivide | _: Remainder | _: Pmod) =>
      op.withNewChildren(Seq(hoisted(op.children.head), op.children(1)))
    case op @ (_: BinaryComparison | _: BinaryArithmetic) => op.mapChildren(hoisted)
  }

  private def hoisted(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && hoistable(t) => HoistedLiteral(v, t)
    case _ => e
  }
}
