package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, DecimalType}

/** The value of the Cypher parameter `$name`, as a Catalyst literal.
  *
  * It IS a [[Literal]] (same `value`, `dataType`, equality with a plain
  * literal of the same value), so constant folding, constraint inference
  * and parquet filter pushdown see a literal, and code matching
  * `case Literal(v, _)` keeps working. Two differences:
  *  - generated code loads the value from the plan's reference array
  *    instead of inlining it, so the same query shape with another value
  *    reuses the already-compiled class (an inlined value makes janino
  *    compile a new class for every distinct key);
  *  - it carries its parameter's name and the `scope` of the compile
  *    that made it, so a cached analyzed plan can take new values for its
  *    own parameters ([[ParamLiteral.bind]]) while a parameter baked into
  *    a graph frame by an earlier statement (a write's `$key`) keeps its
  *    value. Two parameters with equal values stay distinct expressions.
  *
  * Name and scope are a second constructor argument list
  * (`otherCopyArgs`), as Catalyst expects of non-child state, so
  * reflective node copies keep them.
  */
class ParamLiteral(value: Any, dataType: DataType)(val name: String, val scope: Long)
    extends Literal(value, dataType) {

  override protected def otherCopyArgs: Seq[AnyRef] = name :: Long.box(scope) :: Nil

  override def equals(other: Any): Boolean = other match {
    case p: ParamLiteral => p.name == name && p.scope == scope && super.equals(p)
    case _ => super.equals(other)
  }

  /** The value is never null ([[ParamLiteral.scalar]]). */
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val v =
      if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${CodeGenerator.javaType(dataType)}Value()"
      else ref
    ExprCode.forNonNullValue(JavaCode.expression(v, dataType))
  }
}

object ParamLiteral {
  private val scopes = new java.util.concurrent.atomic.AtomicLong

  /** The parameters of one compile: every [[ParamLiteral]] it made
    * carries `id`. Not thread-safe; a compile runs on one thread. */
  final class Scope {
    val id: Long = scopes.incrementAndGet()
    private val made = scala.collection.mutable.Set.empty[String]

    /** `$name` as a Column, when its value is a scalar ([[scalar]]). */
    def column(name: String, v: Any): Option[Column] =
      scalar(v).map { l =>
        made += name
        classic.ExpressionUtils.column(new ParamLiteral(l.value, l.dataType)(name, id))
      }

    /** Whether `plan`, analyzed from this scope's columns, takes any
      * value of their types ([[bind]]). Analysis may read a literal's
      * value and leave a plan only that value fits: it may consume the
      * literal (extracting a struct field by name, or turning an integer
      * into a sort ordinal), or cast an integral literal met by a decimal
      * to the decimal type of its digits (5 to DECIMAL(1,0), which 123456
      * overflows to null). So every parameter made into a literal must
      * still be in the plan, and none under a cast to a decimal type. */
    def preparable(plan: LogicalPlan): Boolean = {
      def mine(e: Expression) = e match {
        case p: ParamLiteral => p.scope == id
        case _ => false
      }
      val seen = scala.collection.mutable.Set.empty[String]
      var typedByValue = false
      plan.foreachWithSubqueries(_.expressions.foreach(_.foreach {
        case p: ParamLiteral if mine(p) => seen += p.name
        case c: Cast if c.dataType.isInstanceOf[DecimalType] && mine(c.child) =>
          typedByValue = true
        case _ =>
      }))
      !typedByValue && made.subsetOf(seen)
    }
  }

  /** The Catalyst literal of a scalar parameter value; None for null and
    * for lists, arrays and maps, whose value shapes the plan. */
  def scalar(v: Any): Option[Literal] = v match {
    case null | _: Iterable[_] | _: Array[_] => None
    case x => scala.util.Try(Literal(x)).toOption
  }

  /** `plan` (an analyzed plan that [[Scope.preparable]] accepted) with
    * the value of every parameter of `scope` replaced by its value in
    * `params`, as a DataFrame on `spark`. The caller guarantees each
    * parameter keeps its Catalyst type, so the result is marked analyzed:
    * a new value changes no resolution, and the analyzer need not walk
    * the plan again. */
  def bind(spark: SparkSession, plan: LogicalPlan, params: Map[String, Any],
      scope: Long): DataFrame = {
    val bound = plan.transformAllExpressionsWithSubqueries {
      case p: ParamLiteral if p.scope == scope =>
        val l = scalar(params(p.name)).filter(_.dataType == p.dataType).getOrElse(
          throw new IllegalArgumentException(s"parameter $$${p.name} changed type"))
        new ParamLiteral(l.value, l.dataType)(p.name, scope)
    }
    bound.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], bound)
  }
}
