package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A literal whose generated code reads a class field set once from the
  * `references` array, so the code is the same for every value. Spark's
  * [[Literal]] writes int, long, double and date values into the Java
  * source, and the compile cache is keyed on that source: every new
  * value compiles a new class. Prints, compares and evaluates as the
  * literal it replaces. */
case class HoistedLiteral(value: Any, dataType: DataType) extends LeafExpression {
  @transient private lazy val literal = Literal(value, dataType)
  override def foldable: Boolean = true
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override def equals(o: Any): Boolean = o match {
    case h: HoistedLiteral => literal == h.literal
    case _ => false
  }
  override def hashCode: Int = literal.hashCode

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val field = ctx.addMutableState(javaType, "hoisted", v =>
      s"$v = ${ctx.addReferenceObj("hoisted", value, boxed)}.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Swaps the non-null literals Spark inlines into generated code for
  * [[HoistedLiteral]]s, in projections and filter conditions only: a
  * plan compiles once per shape, not once per value. Scan nodes keep
  * their `Literal`s — their filters feed parquet pushdown, graft's
  * stats pruning and dynamic partition pruning, which all match on
  * `Literal`. Nondeterministic subtrees are left alone too: a random
  * generator's seed must stay a `Literal`. */
object HoistLiterals extends Rule[SparkPlan] {
  private def inlined(t: DataType): Boolean = t match {
    case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def hoist(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && inlined(t) => HoistedLiteral(v, t)
    case _ if !e.deterministic => e
    case _ => e.mapChildren(hoist)
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(hoist(_).asInstanceOf[NamedExpression]))
    case f: FilterExec => f.copy(condition = hoist(f.condition))
  }
}
