package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** Physical-plan rule: keep per-request literal values out of generated
  * Java so one compiled class serves every literal value of a query shape.
  *
  * Spark spells numeric, date and timestamp literals inline in the code it
  * generates (`x > 42L`), and `CodeGenerator`'s class cache is keyed on that
  * source text. A dashboard that repeats one SQL template with fresh
  * literals therefore misses the cache and pays a Janino compile (tens of
  * ms per class) on every request. This rule swaps such literals in
  * `FilterExec.condition` and `ProjectExec.projectList` for a
  * [[HoistedLiteral]], whose generated code reads the value from the
  * `references` array the compiled class is instantiated with — the way
  * Spark already handles string and decimal literals. Two plans that differ
  * only in those values then generate byte-identical source.
  *
  * Deliberately out of reach:
  *  - the logical plan: constant folding, `SegmentPruningRule` and star-tree
  *    routing still match on `Literal`;
  *  - scan nodes (partition, data and pushed filters), so Parquet pushdown
  *    and file pruning see the same predicates;
  *  - operator parameters (limits, window frames), which are not
  *    expressions of these two operators.
  *
  * Installed by [[graft.GraftExtensions]] as a `preColumnarTransitions`
  * rule, which runs in normal query preparation and again on every adaptive
  * query stage, before whole-stage codegen collapses the plan. The rule is
  * idempotent: a `HoistedLiteral` is not a `Literal`.
  */
object HoistLiterals extends Rule[SparkPlan] {

  /** The types `Literal.doGenCode` spells inline (boolean aside: its two
    * values cannot multiply the cache). */
  private val inlinedTypes: Set[DataType] = Set(
    IntegerType, LongType, ShortType, ByteType, FloatType, DoubleType,
    DateType, TimestampType, TimestampNTZType)

  private val hoist: PartialFunction[Expression, Expression] = {
    case l: Literal if l.value != null && inlinedTypes(l.dataType) => HoistedLiteral(l)
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.transformExpressions(hoist)
    case p: ProjectExec => p.transformExpressions(hoist)
  }

  /** The hook `SparkSessionExtensions.injectColumnar` takes. */
  val columnarRule: ColumnarRule = new ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = HoistLiterals
  }
}

/** A non-null `Literal` whose value reaches generated code through
  * `ctx.addReferenceObj` instead of the source text. It folds, evaluates,
  * compares and prints exactly like the literal it wraps, so plans, EXPLAIN
  * output and interpreted evaluation are unchanged. */
case class HoistedLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    // the boxed value (java.lang.Integer, ...Long, ...Double) unboxes to the
    // primitive the literal would have been spelled as
    val boxed = ctx.addReferenceObj("hoisted", literal.value)
    ExprCode.forNonNullValue(JavaCode.expression(s"$boxed.${javaType}Value()", dataType))
  }
}
