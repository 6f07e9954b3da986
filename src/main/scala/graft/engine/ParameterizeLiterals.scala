package graft.engine

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.types._

/** A non-null primitive constant whose generated code reads the value from
  * the generated class's `references` array (once, into a field) instead of
  * inlining it into the Java source as `Literal` does. Two statements that
  * differ only in such constants then emit identical source, and the second
  * one reuses the first one's compiled class from Spark's codegen cache.
  *
  * Everything except code generation behaves as the `Literal` it replaced:
  * it evaluates to the same value, stays foldable, prints the same (EXPLAIN
  * and plan strings are unchanged) and canonicalizes to the `Literal`, so
  * exchange and subquery reuse still match plans across the rewrite. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal: Literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override lazy val canonicalized: Expression = literal
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Physical-plan rule that turns the primitive literals of code-generated
  * operators into [[ParamLiteral]]s, so short statements that differ only
  * in their constants (TQL filters, time bounds, sampling grids) share
  * generated classes.
  *
  * It runs after the optimizer and the planner, so constant folding,
  * parquet pushdown and partition pruning have already seen real
  * `Literal`s, and before `CollapseCodegenStages`, in adaptive query stages
  * and in non-adaptive plans alike (see [[ParameterizeLiterals.columnarRule]]).
  * Only the operators listed here are rewritten: scans, windows (frame
  * bounds, lag/lead offsets) and every other operator keep their
  * `Literal`s, as does any code that pattern-matches them. */
object ParameterizeLiterals extends Rule[SparkPlan] {

  /** The rule in the injection point that runs just before whole-stage
    * codegen collapses the plan, with and without adaptive execution. */
  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParameterizeLiterals
  }

  private def parameterizable(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: ProjectExec | _: FilterExec | _: HashAggregateExec |
              _: SortAggregateExec | _: ObjectHashAggregateExec) =>
      p.transformExpressions {
        case Literal(v, t) if v != null && parameterizable(t) => ParamLiteral(v, t)
      }
  }
}
