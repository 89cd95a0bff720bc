package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A primitive constant that generated code reads from a field instead
  * of writing it into the Java source. `Literal.doGenCode` inlines every
  * primitive, so `WHERE k = 1` and `WHERE k = 2` are two classes for
  * Janino; with the value passed as a reference, both compile to the
  * same text and share one class. Not foldable, so no rule folds it
  * back; it prints as the `Literal` it replaces, so explain text is
  * unchanged. */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  // Literal's equality (NaN equals NaN), so exchange reuse still matches
  override def equals(o: Any): Boolean = o match {
    case p: ParamLiteral => literal == p.literal
    case _ => false
  }
  override def hashCode: Int = literal.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    // set once per generated instance, from that instance's references
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.variable(field, dataType))
  }
}

/** The physical rule that puts [[ParamLiteral]]s in place: every
  * non-null `Literal` operand of a comparison or `IN` in a `FilterExec`
  * condition, for the types `Literal` inlines (strings and decimals
  * already go through references). Scans keep their `Literal`s, so
  * parquet pushdown, partition pruning and DPP read them as before.
  * Runs just before `CollapseCodegenStages` (GraftExtensions). */
object ParamLiterals extends Rule[SparkPlan] {
  private val inlined: Set[DataType] = Set(BooleanType, ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = f.condition.transformUp {
        case e @ (_: BinaryComparison | _: In) => e.mapChildren {
          case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
          case other => other
        }
      }
      if (c eq f.condition) f else f.copy(condition = c)
  }
}
