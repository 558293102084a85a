package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types.{DataType, DateType, LongType, TimestampType}

/** A non-null literal that reaches generated code as a reference, not
  * as a constant: the generated source is the same for every value, so
  * a plan re-run with a new value reuses the class Spark compiled the
  * first time. It prints as the [[Literal]] it stands for.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {

  private def literal = Literal(value, dataType)

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value)
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** [[FileSourceStrategy]] with the Long, Timestamp and Date literals of
  * the filter above the scan made [[ParamLiteral]]s. The scan's
  * partition and data filters keep the literals, so partition pruning
  * and parquet row-group skipping are unchanged. Planned by the
  * medallion's per-run session, whose watermark changes every arrival.
  */
object ParamScanStrategy extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] = FileSourceStrategy(plan).map(_.transformUp {
    case f: FilterExec => f.copy(condition = params(f.condition))
  })

  private def params(e: Expression): Expression = e.transform {
    case Literal(v, t @ (LongType | TimestampType | DateType)) if v != null => ParamLiteral(v, t)
  }
}
