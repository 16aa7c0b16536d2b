package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A constant that generated code reads from the `references` array instead
  * of writing it into the source text. Catalyst inlines numeric, date and
  * timestamp literals as Java constants, and its generated-code cache is
  * keyed on the source text, so two statements that differ only in such a
  * constant compile two classes. This leaf reads the value once, into a
  * field unboxed when the generated object is initialised, so every value
  * shares one class — the role of the reference's compiled-expression cache
  * (core/trino-main/src/main/java/io/trino/sql/gen/ExpressionCompiler.java),
  * whose generated code takes constants as bound arguments.
  *
  * It renders (`toString`, `sql`) exactly like the wrapped literal, so
  * plan text does not change; two leaves are equal when their literals are,
  * so plans that differ in a constant still canonicalize apart. */
case class ReferenceLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.addReferenceObj("literal", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(CodeGenerator.javaType(dataType), "literal",
      v => s"$v = $boxed;", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical rule, run before `CollapseCodegenStages` (as a columnar
  * pre-transition rule, both in AQE's per-stage planning and with AQE
  * off): a non-null int, long, short, byte, float, double, date or
  * timestamp literal that is a direct operand of a comparison or an
  * arithmetic operator in a `FilterExec` condition or a `ProjectExec` list
  * becomes a [[ReferenceLiteral]]. Dashboard statements that differ only
  * in such constants then reuse one set of compiled classes.
  *
  * Nothing else is touched. Scan-side filters (a file scan's data and
  * partition filters, DSv2 pushed predicates, CoW manifest pruning) are
  * separate fields or run on the logical plan, so pushdown still sees
  * literals. Function arguments stay literals too: some operators check
  * `foldable` there (LIKE patterns, `round` scales, formats). */
object ReferenceLiterals extends Rule[SparkPlan] {
  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ReferenceLiterals
  }

  // the types Catalyst writes into generated source as Java constants
  private def inSource(l: Literal): Boolean = l.value != null && (l.dataType match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  })

  private val operands: PartialFunction[Expression, Expression] = {
    case op @ (_: BinaryComparison | _: BinaryArithmetic) => op.mapChildren {
      case l: Literal if inSource(l) => ReferenceLiteral(l)
      case other => other
    }
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec) => p.transformExpressionsUp(operands)
  }
}
